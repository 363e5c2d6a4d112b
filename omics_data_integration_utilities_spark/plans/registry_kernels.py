"""Query registry part 5 — applyInPandas/mapInPandas kernels: multimodal
feature extraction (deterministic fake decoder → oracle-checkable), kNN
impute, partial correlations, count GLM.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..analytics.clustering import cluster_probes
from ..analytics.kernels import (
    count_glm_offset,
    knn_impute,
    partial_correlations,
    pca_batch_check,
    roc_auc,
)
from ..analytics.permutation import permutation_fdr
from ..operators.containment import rule_bfs
from ..operators.multimodal import documents_as_media, extract_features, fake_decoder
from ..sources.readers import local_frame
from .registry import _t


def q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal plumbing: binary media column → mapInPandas feature
    extraction.  The fake decoder is md5-arithmetic, so DuckDB can oracle
    the whole path (n_bytes, content_key, and each feature dim)."""
    media = documents_as_media(_t(spark, sf_dir, "documents"))
    feats = extract_features(media, decoder=fake_decoder)
    return feats.select(
        "media_id",
        "n_bytes",
        "content_key",
        F.round(F.element_at("feature", 1), 6).alias("f0"),
        F.round(F.element_at("feature", 2), 6).alias("f1"),
    )


def q_multimodal_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal frame sampling: binary media column → one row per
    sampled frame (the 1→N mapInPandas fan-out), frames every 64 ms
    capped at 8 per video, duration defaulting to payload length.  The
    fake frame decoder slices deterministically, so frame lengths are
    pure arithmetic and DuckDB oracles the full fan-out shape."""
    from ..operators.multimodal import fake_frame_decoder, sample_frames

    media = documents_as_media(
        _t(spark, sf_dir, "documents").where(F.col("doc_id") % 7 == 0)
    )
    frames = sample_frames(
        media, frame_decoder=fake_frame_decoder, interval_ms=64, max_frames=8
    )
    return frames.select("media_id", "frame_idx", "ts_ms", "frame_len")


# duration = payload bytes (adapter regime); n frames = min(8, dur//64+1);
# the fake decoder's 8-byte slice always fits for dur >= 8, so
# frame_len = least(8, dur) — all arithmetic, no blob hashing needed
SQL_MULTIMODAL_FRAMES = """
WITH m AS (
  SELECT doc_id AS media_id, octet_length(CAST(text AS BLOB)) AS dur
  FROM documents WHERE doc_id % 7 = 0
), n AS (
  SELECT media_id, dur,
         CASE WHEN dur > 0 THEN least(8, dur // 64 + 1) ELSE 0 END AS nf
  FROM m
), fx AS (
  SELECT media_id, dur, unnest(range(0, CAST(nf AS BIGINT))) AS i FROM n
)
SELECT media_id, CAST(i AS INT) AS frame_idx, CAST(i * 64 AS BIGINT) AS ts_ms,
       CAST(least(8, dur) AS BIGINT) AS frame_len
FROM fx
"""


# fake_decoder dim i = int(md5[i*4 : i*4+4 bytes]) / 2^32; md5 hex chars
# [8i+1, 8i+8] — reproduced in SQL from the hex digest
SQL_MULTIMODAL = """
SELECT doc_id AS media_id,
       octet_length(encode(text)) AS n_bytes,
       ('0x' || substr(md5(text), 1, 15))::BIGINT AS content_key,
       round(('0x' || substr(md5(text), 1, 8))::BIGINT / 4294967296.0, 6) AS f0,
       round(('0x' || substr(md5(text), 9, 8))::BIGINT / 4294967296.0, 6) AS f1
FROM documents
"""


def q_k10_knn_impute(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K10 kNN impute: mask low values to null, impute from 3 nearest
    rows per block (MethylMix preprocessing shape).  Iterative/numpy —
    rows-only check."""
    ev = _t(spark, sf_dir, "events")
    cells = ev.select(
        (F.col("user_id") % 5).cast("string").alias("block"),
        (F.col("user_id") % 17).cast("string").alias("row"),
        F.col("event_type").alias("col"),
        F.when(F.col("value") < 5.0, F.lit(None)).otherwise(F.col("value")).alias("v"),
    ).groupBy("block", "row", "col").agg(F.round(F.avg("v"), 6).alias("v"))
    return knn_impute(cells, "block", "row", "col", "v", k=3)


def q_k12_partial_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K12 shrinkage partial-correlation screen (Gohs method) — matrix
    inverse per block; rows-only check."""
    ev = _t(spark, sf_dir, "events")
    m = ev.select(
        (F.col("user_id") % 4).cast("string").alias("block"),
        F.col("user_id").cast("string").alias("sample"),
        F.col("event_type").alias("var"),
        F.col("value").alias("v"),
    ).groupBy("block", "sample", "var").agg(F.avg("v").alias("v"))
    return partial_correlations(m, "block", "var", "sample", "v")


def q_k2_mass(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K2 mass-from-SMARTS, RDKit-free (gizmos.py:240-291): deterministic
    SMARTS strings constructed from part rows (repeat-atoms + bracket
    atom with &-valence and atom map + aromatic ring + H-count spec +
    two-letter Cl), parsed by the JVM expression chain in
    functions/chem.py.  The DuckDB oracle computes the mass
    arithmetically from the construction parameters — an independent
    route to the same number, so the parser itself is what's checked."""
    from ..functions.chem import smarts_mass

    part = _t(spark, sf_dir, "part")
    smarts = part.select(
        "p_partkey",
        F.concat(
            F.expr("repeat('C', (p_size % 5) + 1)"),
            F.expr("repeat('O', cast(p_partkey % 3 as int))"),
            F.lit("[N&X3:2]"),
            F.when(F.col("p_partkey") % 2 == 0, F.lit("Cl")).otherwise(
                F.lit("c1ccccc1")
            ),
            F.lit("[CH3]"),
        ).alias("smarts"),
    )
    return smarts.select(
        "p_partkey", "smarts", F.round(smarts_mass("smarts"), 3).alias("mm")
    )


SQL_K2_MASS = """
SELECT p_partkey,
       repeat('C', (p_size % 5) + 1) || repeat('O', CAST(p_partkey % 3 AS INT))
         || '[N&X3:2]'
         || CASE WHEN p_partkey % 2 = 0 THEN 'Cl' ELSE 'c1ccccc1' END
         || '[CH3]' AS smarts,
       round(((p_size % 5) + 1) * 12.011 + (p_partkey % 3) * 15.999 + 14.007
             + CASE WHEN p_partkey % 2 = 0 THEN 35.45 ELSE 6 * 12.011 END
             + 12.011, 3) AS mm
FROM part
"""


# reaction rules for the §3.3 composite, in SMARTS form for the
# structural kernel (each substrate carries at most one embedding per
# pattern, so the per-site structural products coincide with the
# oracle's rewrite — the mass delta is its independent route)
RXN_MASS_RULES = [
    ("r_chlorinate", "Cl", "OO"),        # −35.45 + 2×15.999 = −3.452
    ("r_demethyl", "[CH3]", ""),         # −12.011
    ("r_ring_open", "c1ccccc1", "CCCCC"),  # 6C → 5C = −12.011
]


def q_plan_reaction_mass(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§3.3 composite round: K1 reaction application → K2 product mass →
    mass-match against the known-structure table (one reaction_loop round
    of heraldPathways.py:381-491: react, compute product mass, assign ids
    against known masses).  Spark shape: broadcast rule fan-out →
    STRUCTURAL reaction kernel (the pure-Python SMARTS-subset engine —
    parse, embed, atom-map rewrite — not a regexp) → scan-speed SMARTS
    mass expression → integer-grid equi-join; the DuckDB oracle computes
    every product mass arithmetically (base + rule delta) — an
    independent route, so the reaction engine, the plumbing and the mass
    parser are all checked end-to-end."""
    from ..functions.chem import smarts_mass
    from ..operators.reactions import apply_reactions
    from ..operators.smarts_engine import structural_reaction_kernel

    part = _t(spark, sf_dir, "part")
    smarts_expr = F.concat(
        F.expr("repeat('C', (p_size % 5) + 1)"),
        F.expr("repeat('O', cast(p_partkey % 3 as int))"),
        F.lit("[N&X3:2]"),
        F.when(F.col("p_partkey") % 2 == 0, F.lit("Cl")).otherwise(F.lit("c1ccccc1")),
        F.lit("[CH3]"),
    )
    structs = part.select(F.col("p_partkey").alias("sid"), smarts_expr.alias("smarts"))
    known = (
        structs.select(
            F.round(F.round(smarts_mass("smarts"), 3) * 1000, 0)
            .cast("long")
            .alias("mkey")
        )
        .groupBy("mkey")
        .agg(F.count(F.lit(1)).alias("n_known"))
    )
    subs = structs.where(F.col("sid") % 3 == 0).select(
        F.col("sid").alias("substrate_id"), F.col("smarts").alias("substrate")
    )
    rules = local_frame(
        spark, RXN_MASS_RULES, "rule_id string, pattern string, replacement string"
    )
    prods = apply_reactions(subs, rules, kernel=structural_reaction_kernel).withColumn(
        "mm", F.round(smarts_mass(F.col("product")), 3)
    )
    return (
        prods.withColumn("mkey", F.round(F.col("mm") * 1000, 0).cast("long"))
        .join(known, "mkey", "left")
        .select(
            "substrate_id",
            "rule_id",
            "product_id",
            "mm",
            F.coalesce("n_known", F.lit(0)).alias("n_matches"),
        )
    )


SQL_PLAN_REACTION_MASS = """
WITH s AS (
  SELECT p_partkey AS sid,
         repeat('C', (p_size % 5) + 1) || repeat('O', CAST(p_partkey % 3 AS INT))
           || '[N&X3:2]'
           || CASE WHEN p_partkey % 2 = 0 THEN 'Cl' ELSE 'c1ccccc1' END
           || '[CH3]' AS smarts,
         round(((p_size % 5) + 1) * 12.011 + (p_partkey % 3) * 15.999 + 14.007
               + CASE WHEN p_partkey % 2 = 0 THEN 35.45 ELSE 6 * 12.011 END
               + 12.011, 3) AS mm
  FROM part
), known AS (
  SELECT CAST(round(mm * 1000, 0) AS BIGINT) AS mkey, count(*) AS n_known
  FROM s GROUP BY 1
), subs AS (
  SELECT * FROM s WHERE sid % 3 = 0
), rules(rule_id, pattern, replacement, delta, applies_even) AS (
  VALUES ('r_chlorinate', 'Cl', 'OO', -3.452, 1),
         ('r_demethyl', '\\[CH3\\]', '', -12.011, NULL),
         ('r_ring_open', 'c1ccccc1', 'CCCCC', -12.011, 0)
), prods AS (
  SELECT subs.sid AS substrate_id, r.rule_id,
         regexp_replace(subs.smarts, r.pattern, r.replacement, 'g') AS product,
         round(subs.mm + r.delta, 3) AS mm
  FROM subs, rules r
  WHERE r.applies_even IS NULL OR (CASE WHEN subs.sid % 2 = 0 THEN 1 ELSE 0 END) = r.applies_even
)
SELECT substrate_id, rule_id,
       'VM_' || substr(sha256(product), 1, 16) AS product_id,
       mm, coalesce(n_known, 0) AS n_matches
FROM prods LEFT JOIN known
  ON CAST(round(prods.mm * 1000, 0) AS BIGINT) = known.mkey
"""


def q_k4_rule_bfs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K4 prerequisite-gated rule BFS (gizmos.py:339-400): a 3-level rule
    hierarchy from part (first-token ⊂ p_name ⊂ p_name+brand); base rules
    are the 8 first tokens; ``is_in`` edges point to every deeper rule
    with this rule as prefix (any depth — so level-3 rules surface in
    round 1 but stay prerequisite-blocked until their level-2 prefix
    passes, the reference's late-unlock dynamic); a rule passes when a
    part with p_size<=3 realizes it.  Oracle = unrolled per-round CTE."""
    part = _t(spark, sf_dir, "part")
    # each level carries its ACTUAL parent rule ids (p1 = level-1 ancestor,
    # p2 = level-2 parent) instead of re-deriving them as token prefixes —
    # a 3-token p_name would silently break a prefix-based level-3 gate
    l1 = (
        part.select(F.substring_index("p_name", " ", 1).alias("rule_id"))
        .distinct()
        .withColumn("lvl", F.lit(1))
        .withColumn("p1", F.lit(None).cast("string"))
        .withColumn("p2", F.lit(None).cast("string"))
    )
    l2 = (
        part.select(
            F.col("p_name").alias("rule_id"),
            F.substring_index("p_name", " ", 1).alias("p1"),
        )
        .distinct()
        .withColumn("lvl", F.lit(2))
        .withColumn("p2", F.lit(None).cast("string"))
    )
    l3 = (
        part.select(
            F.concat_ws(" ", "p_name", "p_brand").alias("rule_id"),
            F.substring_index("p_name", " ", 1).alias("p1"),
            F.col("p_name").alias("p2"),
        )
        .distinct()
        .withColumn("lvl", F.lit(3))
    )
    rules = l1.unionByName(l2).unionByName(l3)
    tgt = part.where(F.col("p_size") <= 3).select(
        F.substring_index("p_name", " ", 1).alias("t1"),
        F.col("p_name").alias("t2"),
        F.concat_ws(" ", "p_name", "p_brand").alias("t3"),
    ).distinct()
    passes = (
        rules.join(
            tgt.select(F.col("t1").alias("rule_id")).distinct().withColumn("__p1", F.lit(True)),
            "rule_id", "left")
        .join(tgt.select(F.col("t2").alias("rule_id")).distinct().withColumn("__p2", F.lit(True)),
              "rule_id", "left")
        .join(tgt.select(F.col("t3").alias("rule_id")).distinct().withColumn("__p3", F.lit(True)),
              "rule_id", "left")
        .withColumn("passes", F.coalesce("__p1", "__p2", "__p3", F.lit(False)))
        .select("rule_id", "lvl", "p1", "p2", "passes")
    )
    m = passes.select(
        "rule_id", "lvl", "p1", "p2", "passes",
        (F.col("lvl") == 1).alias("is_base"),
        F.when(F.col("lvl") == 1, F.array())
        .when(F.col("lvl") == 2, F.array("p1"))
        .otherwise(F.array("p1", "p2"))
        .cast("array<string>")
        .alias("has"),
    )
    # is_in edges straight from the carried parent ids (every p1/p2 is a
    # registered rule by construction — same part rows feed every level)
    edges1 = m.where(F.col("p1").isNotNull()).select(
        F.col("p1").alias("rule_id"), F.col("rule_id").alias("__child")
    )
    edges2 = m.where(F.col("p2").isNotNull()).select(
        F.col("p2").alias("rule_id"), F.col("rule_id").alias("__child")
    )
    is_in = edges1.unionByName(edges2).groupBy("rule_id").agg(
        F.array_sort(F.collect_set("__child")).alias("is_in")
    )
    m = m.join(is_in, "rule_id", "left").withColumn(
        "is_in", F.coalesce("is_in", F.array().cast("array<string>"))
    )
    out = rule_bfs(m, max_rounds=4)
    return out.select("rule_id", "round", "passed")


SQL_K4_RULE_BFS = """
WITH l1 AS (SELECT DISTINCT split_part(p_name, ' ', 1) AS rid FROM part),
l2 AS (SELECT DISTINCT p_name AS rid, split_part(p_name, ' ', 1) AS p1 FROM part),
l3 AS (SELECT DISTINCT p_name || ' ' || p_brand AS rid,
              split_part(p_name, ' ', 1) AS p1, p_name AS p2 FROM part),
tgt AS (
  SELECT DISTINCT split_part(p_name, ' ', 1) AS t1, p_name AS t2,
         p_name || ' ' || p_brand AS t3
  FROM part WHERE p_size <= 3
),
p1 AS (SELECT rid, rid IN (SELECT t1 FROM tgt) AS ok FROM l1),
p2 AS (SELECT rid, p1, rid IN (SELECT t2 FROM tgt) AS ok FROM l2),
p3 AS (SELECT rid, p1, p2, rid IN (SELECT t3 FROM tgt) AS ok FROM l3),
t0 AS (SELECT rid, 0 AS round, ok AS passed FROM p1),
pass0 AS (SELECT rid FROM t0 WHERE passed),
t1r AS (
  SELECT rid, 1 AS round, ok AS passed FROM p2
  WHERE p1 IN (SELECT rid FROM pass0)
),
pass1 AS (SELECT rid FROM pass0 UNION SELECT rid FROM t1r WHERE passed),
t2r AS (
  SELECT rid, 2 AS round, ok AS passed FROM p3
  WHERE p1 IN (SELECT rid FROM pass1) AND p2 IN (SELECT rid FROM pass1)
)
SELECT rid AS rule_id, round, passed FROM t0
UNION ALL SELECT rid AS rule_id, round, passed FROM t1r
UNION ALL SELECT rid AS rule_id, round, passed FROM t2r
"""


def q_k12_perm_fdr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K12 permutation null + BH-FDR (Gohs find.g1s.m,
    integrated_aCGH_expression_relationships.R:133-161): observed = per
    variable the cross-modality correlation (avg value vs event count per
    sample — the acgh-vs-expr pairing); null = mismatched-variable
    correlations via deterministic md5-rank cyclic shift (null.distb.m,
    R:109-131); perm_pv = fraction of null ≥ observed (+1 sentinel
    smoothing, R:130); pv_adj = p.adjust(method='fdr') (R:158).  One lazy
    plan (:func:`permutation_fdr`, no action at build) → DuckDB-oracle hash
    check."""
    series = _t(spark, sf_dir, "events").groupBy(
        (F.col("user_id") % 2).cast("string").alias("blk"),
        F.col("event_type").alias("var"),
        F.col("user_id").alias("s"),
    ).agg(
        F.avg("value").alias("va"),
        F.count(F.lit(1)).cast("double").alias("vb"),
    )
    return permutation_fdr(series)


SQL_K12_PERM_FDR = """
WITH series AS (
  SELECT CAST(user_id % 2 AS VARCHAR) AS blk, event_type AS var, user_id AS s,
         avg(value) AS va, CAST(count(*) AS DOUBLE) AS vb
  FROM events GROUP BY 1, 2, 3
), obs AS (
  SELECT blk, var, round(corr(va, vb), 6) AS r, count(*) AS n
  FROM series GROUP BY blk, var
  HAVING corr(va, vb) IS NOT NULL
), rk AS (
  SELECT blk, var,
         row_number() OVER (PARTITION BY blk ORDER BY md5(var), var) AS rk
  FROM (SELECT DISTINCT blk, var FROM series)
), nv AS (
  SELECT blk, count(*) AS nn FROM rk GROUP BY blk
), pairing AS (
  SELECT a.blk, a.var AS var_a, b.var AS var_b
  FROM rk a JOIN nv ON a.blk = nv.blk
  JOIN rk b ON b.blk = a.blk AND b.rk = (a.rk % nv.nn) + 1
  WHERE a.var <> b.var
), nullr AS (
  SELECT p.blk, round(corr(sa.va, sb.vb), 6) AS r
  FROM pairing p
  JOIN series sa ON sa.blk = p.blk AND sa.var = p.var_a
  JOIN series sb ON sb.blk = p.blk AND sb.var = p.var_b AND sb.s = sa.s
  GROUP BY p.blk, p.var_a, p.var_b
  HAVING corr(sa.va, sb.vb) IS NOT NULL
), u AS (
  SELECT blk, var, r, n, 1 AS is_obs FROM obs
  UNION ALL
  SELECT blk, NULL AS var, r, NULL AS n, 0 AS is_obs FROM nullr
), c AS (
  SELECT *,
    sum(1 - is_obs) OVER (PARTITION BY blk ORDER BY r DESC, is_obs ASC) AS null_ge,
    sum(1 - is_obs) OVER (PARTITION BY blk) AS null_n
  FROM u
), pv AS (
  SELECT blk, var, r, n,
         round((null_ge + 1.0) / (null_n + 1.0), 6) AS perm_pv
  FROM c WHERE is_obs = 1
), bh AS (
  SELECT *,
    perm_pv * count(*) OVER (PARTITION BY blk)
      / row_number() OVER (PARTITION BY blk ORDER BY perm_pv, var) AS raw
  FROM pv
)
SELECT blk, var, r, n, perm_pv,
  round(least(1.0, min(raw) OVER (PARTITION BY blk ORDER BY perm_pv, var
        ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)), 6) AS pv_adj
FROM bh
"""


def q_k10_pca_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K10 family: PCA batch-effect check (TCGA_GENERIC_CheckBatchEffect,
    Download_Preprocess.R:828-848) — PC1 of the sample×gene profile matrix
    + one-way ANOVA vs batch; rows-only check (eigendecomposition)."""
    ev = _t(spark, sf_dir, "events")
    cells = ev.groupBy(
        F.col("event_type").alias("gene"),
        (F.col("user_id") % 40).cast("string").alias("sample"),
    ).agg(F.avg("value").alias("v"))
    batches = cells.select(
        "sample", (F.col("sample").cast("long") % 3).cast("string").alias("batch")
    ).distinct()
    return pca_batch_check(cells, "gene", "sample", "v", batches)


def q_k13_count_glm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K13 NB count GLM with offset (Robinson ABCD-DNA shape): per-brand
    NB IRLS (edgeR glmFit dispersion=0.05, Figure_6_Feber_ROC.R:54-55) of
    lineitem counts ~ linestatus with order-volume offset, plus glmLRT
    z-scores; rows-only check (iterative kernel)."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    counts = (
        li.join(part, li.l_partkey == part.p_partkey)
        .groupBy("p_brand", "l_linestatus")
        .agg(
            F.count(F.lit(1)).cast("double").alias("n"),
            F.sum("l_quantity").alias("exposure"),
        )
    )
    return count_glm_offset(
        counts, "p_brand", "n", "l_linestatus", "exposure", dispersion=0.05
    )


# probe patterns for k3_substructure over the k2-style construction
# "C{1..5}O{0..2}[N&X3:2]" + ("Cl" | "c1ccccc1") + "[CH3]" (a linear
# token stream — the variant tail is bonded N—Cl—CH3 or N—ring—CH3).
# The oracle is derived per-probe from the construction:
#   - equivalence probes: graph embedding ⇔ literal substring, so
#     strpos checks the engine verdicts true AND false;
#   - structural probes: provable closed forms on the construction —
#     probe_ccl is true exactly on the Cl variant (Cl is bonded to the
#     [CH3] carbon; under graph semantics the token gap is irrelevant),
#     the two branch probes root at that Cl (bonded to BOTH the N and
#     the [CH3] carbon), true exactly on the Cl variant and in EITHER
#     branch order (the branch matcher's driver check), and probe_ocl /
#     probe_dbl are structurally impossible (no O–Cl bond, no double
#     bond anywhere in the construction).
K3_PROBES = [
    ("probe_cc", "CC"),
    ("probe_co", "CO"),
    ("probe_oo", "OO"),
    ("probe_on", "O[N&X3:2]"),
    ("probe_ncl", "[N&X3:2]Cl"),
    ("probe_ring", "c1ccccc1"),
    ("probe_arom", "cc"),
    ("probe_ch3", "[CH3]"),
    ("probe_ccl", "CCl"),
    ("probe_branch", "Cl([N&X3:2])[CH3]"),
    ("probe_branch_swap", "Cl([CH3])[N&X3:2]"),
    ("probe_ocl", "OCl"),
    ("probe_dbl", "C=O"),
    # r8 query-primitive probes (alternation / negation / #n — the
    # widened SMARTS subset).  Closed forms on the construction:
    #   alt_halo  [Cl,Br]        — Br never occurs, Cl iff even partkey
    #   neg_before_cl [!C]Cl     — Cl's non-CH3 neighbour is the N
    #   num_arom  [#6]c          — aromatic c–c bonds iff ring variant
    #   neg_ch3   [!Cl][CH3]     — CH3's only neighbour is Cl (even) or
    #                              an aromatic c (odd)
    #   neg_h     [!#1][N&X3:2]  — a C or O always precedes the N
    #   alt_n     [#7,#16]       — the N is always present
    ("probe_alt_halo", "[Cl,Br]"),
    ("probe_neg_before_cl", "[!C]Cl"),
    ("probe_num_arom", "[#6]c"),
    ("probe_neg_ch3", "[!Cl][CH3]"),
    ("probe_neg_h", "[!#1][N&X3:2]"),
    ("probe_alt_n", "[#7,#16]"),
    # a/A aromatic wildcards and R ring membership (late r8):
    #   arom_wild [a]   — aromatic atoms exist iff ring variant
    #   aliph     [A]   — the leading C chain is always aliphatic
    #   ring_mem  [R]   — only the benzene ring puts atoms in a cycle
    #   acyclic   [!R]  — the leading C chain is always acyclic
    ("probe_arom_wild", "[a]"),
    ("probe_aliph", "[A]"),
    ("probe_ring_mem", "[R]"),
    ("probe_acyclic", "[!R]"),
    # elem-less charge query: no atom in the construction carries a
    # formal charge, so [+] can never match (negative-verdict probe)
    ("probe_charge", "[+]"),
    # recursive SMARTS (late r8):
    #   rec_ring   [$(c1ccccc1)]  — an atom anchoring a benzene embed
    #                               exists iff ring variant
    #   rec_cl_ch3 [$(Cl)][CH3]   — a Cl-anchored atom bonded to the
    #                               [CH3] carbon exists iff Cl variant
    #   rec_not_cl [!$(Cl)]       — non-Cl atoms always exist
    ("probe_rec_ring", "[$(c1ccccc1)]"),
    ("probe_rec_cl_ch3", "[$(Cl)][CH3]"),
    ("probe_rec_not_cl", "[!$(Cl)]"),
    # ';'-conjunct brackets (late r8):
    #   conj_arom_ring [c;R]   — aromatic carbon in a ring iff ring variant
    #   conj_acyclic_c [C;!R]  — the leading chain carbons, always
    ("probe_conj_arom_ring", "[c;R]"),
    ("probe_conj_acyclic_c", "[C;!R]"),
    # r9 per-alternative modifier brackets ([CH2,NH]-class — each
    # alternative carries its OWN H/charge mods).  Closed forms:
    #   malt_ch3_nh2 [CH3,NH2]   — the [CH3] atom always exists
    #   malt_ch2_nh  [CH2,NH]    — no atom writes H2/H1 explicitly
    #   malt_chg     [O-,CH3]    — no O⁻ anywhere; CH3 always
    #   malt_cl_nh2  [Cl,NH2]    — Cl iff even partkey; NH2 never
    #   malt_ch3_arom [CH3,OH]c  — CH3 bonded to an aromatic carbon
    #                              exists iff ring variant
    ("probe_malt_ch3_nh2", "[CH3,NH2]"),
    ("probe_malt_ch2_nh", "[CH2,NH]"),
    ("probe_malt_chg", "[O-,CH3]"),
    ("probe_malt_cl_nh2", "[Cl,NH2]"),
    ("probe_malt_ch3_arom", "[CH3,OH]c"),
    # r9 list-level ';'-conjuncts ([C,N;R]-class — the conjunct ANDs the
    # whole alternation/negation).  Closed forms:
    #   aconj_ring [c,n;R]    — aromatic ring carbons iff ring variant
    #   aconj_halo [Cl,Br;!R] — the acyclic Cl iff even partkey
    #   nconj_ring [!C!N;R]   — ring atoms are aromatic c (not aliphatic
    #                           C/N), so true iff ring variant
    ("probe_aconj_ring", "[c,n;R]"),
    ("probe_aconj_halo", "[Cl,Br;!R]"),
    ("probe_nconj_ring", "[!C!N;R]"),
    # r9 depth-2 recursive environment: an atom anchoring (an atom that
    # anchors Cl, bonded to the [CH3] carbon) — the Cl of the even
    # variant, nested form of probe_rec_cl_ch3
    ("probe_rec_nested", "[$([$(Cl)][CH3])]"),
    # r9 negated-item alternation: Br never occurs and !A = aromatic
    # atom, so [Br,!A] is true exactly on the ring variant
    ("probe_nalt_arom", "[Br,!A]"),
    # r10 ring counts ([R<n>] = atom in exactly n canonical-minimum-
    # cycle-basis rings).  Closed forms on the construction:
    #   r1        [R1]    — the benzene atoms are each in exactly 1 ring
    #   r2        [R2]    — no fused system anywhere, never matches
    #   r0_chain  [C;R0]  — the leading aliphatic chain is acyclic
    #   conj_r1   [c;R1]  — aromatic carbon in exactly 1 ring iff ring
    ("probe_r1", "[R1]"),
    ("probe_r2", "[R2]"),
    ("probe_r0_chain", "[C;R0]"),
    ("probe_conj_r1", "[c;R1]"),
    # r10 depth-3+ recursive environments (the r9 depth-2 bound is now
    # _MAX_REC_NESTING = 8).  A pure [$(X)] wrap preserves the anchor
    # set, so the closed forms follow from the wrapped r8/r9 probes:
    #   rec_nested3    wrap of probe_rec_nested   — Cl variant only
    #   rec_deep_ring  wrap² of probe_rec_ring    — ring variant only
    #   not_nested3    negated wrap — a non-(Cl-bonded-to-CH3) atom
    #                  always exists (the leading chain C)
    ("probe_rec_nested3", "[$([$([$(Cl)][CH3])])]"),
    ("probe_rec_deep_ring", "[$([$([$(c1ccccc1)])])]"),
    ("probe_not_nested3", "[!$([$([$(Cl)][CH3])])]"),
    # r10 pattern-side stereo (ignored at match = RDKit's default
    # useChirality=False: tetrahedral @/@@ strips before parse, the
    # directional / bond mark compares equal to the single bond it
    # decorates).  Closed forms: the marks constrain nothing, so each
    # probe's truth is its unmarked twin's:
    #   stereo_ch3     [C@H3]          ≡ [CH3]       — always present
    #   stereo_ch3_cl  [C@@H3]Cl       ≡ [CH3]Cl     — Cl iff even
    #   stereo_dirbond [!#1]/[N&X3:2]  ≡ [!#1][N...] — always true
    # late-r10 ring-bond query primitives (@ = bond in a ring, !@ =
    # bond not in a ring — RDKit IsInRing bond semantics, matched via
    # the engine's non-bridge edge set).  Closed forms:
    #   ringbond_cl   C@Cl      — no substrate has a ring-bonded Cl
    #   ringbond_arom c@c       — benzene ring bonds iff ring variant
    #   notringbond   [CH3]!@Cl — the acyclic CH3-Cl bond iff even
    ("probe_stereo_ch3", "[C@H3]"),
    ("probe_stereo_ch3_cl", "[C@@H3]Cl"),
    ("probe_stereo_dirbond", "[!#1]/[N&X3:2]"),
    ("probe_ringbond_cl", "C@Cl"),
    ("probe_ringbond_arom", "c@c"),
    ("probe_notringbond", "[CH3]!@Cl"),
    # late-r10 any-bond query (~ matches any bond — RDKit's most common
    # bond query in RetroRules-shaped rules).  Closed forms:
    #   anybond_n    [!#1]~[N&X3:2] — some atom always bonds the N
    #   anybond_arom c~c            — aromatic c-c bonds iff ring variant
    ("probe_anybond_n", "[!#1]~[N&X3:2]"),
    ("probe_anybond_arom", "c~c"),
    # late-r10 bond OR-lists ('-,=' = single-or-double).  Closed forms:
    #   bondlist_cl  [CH3]-,=Cl — the single CH3-Cl bond iff even
    #   bondlist_co  C=,#O      — every C-O bond is single, never
    ("probe_bondlist_cl", "[CH3]-,=Cl"),
    ("probe_bondlist_co", "C=,#O"),
    # late-r10 full bond expressions ('!' > '&'/adjacency > ',' > ';'
    # with Daylight precedence).  Closed forms on the construction
    # (every written bond single; ring bonds = the benzene of the odd
    # variant, whose CLOSURE edge is the engine's order-wildcard):
    #   bexpr_ringsingle c-;@c        — aromatic single-in-ring iff ring
    #   bexpr_prec       c-,=;@c      — (single or double) AND ring iff
    #                                   ring (',' binds tighter than ';')
    #   bexpr_notring_cl [CH3]-&!@Cl  — the acyclic CH3-Cl bond iff even
    #   bexpr_negor_cl   [CH3]!-,!=Cl — '!=' holds on the single CH3-Cl
    #                                   bond iff even
    #   bexpr_neg_n      [!#1]!=[N&X3:2] — the N's neighbours all bond
    #                                   single, always true
    #   bexpr_dbl_acyc   C=;!@O       — no written C-O bond is double
    #                                   (acyclic bonds are never the
    #                                   order-wildcard closure), never
    ("probe_bexpr_ringsingle", "c-;@c"),
    ("probe_bexpr_prec", "c-,=;@c"),
    ("probe_bexpr_notring_cl", "[CH3]-&!@Cl"),
    ("probe_bexpr_negor_cl", "[CH3]!-,!=Cl"),
    ("probe_bexpr_neg_n", "[!#1]!=[N&X3:2]"),
    ("probe_bexpr_dbl_acyc", "C=;!@O"),
    # late-r10 expression-QUALIFIED ring closures (the expression labels
    # the closure edge itself).  Closed forms:
    #   closure_arom     c~1ccccc1   — a benzene with any-bond closure
    #                                  iff ring variant
    #   closure_aliph    C~1CCCC1    — no aliphatic ring anywhere, never
    #   closure_mismatch c-1ccccc:1  — conflicting closure bonds parse
    #                                  outside the subset (RDKit's
    #                                  mismatch error), never matches
    ("probe_closure_arom", "c~1ccccc1"),
    ("probe_closure_aliph", "C~1CCCC1"),
    ("probe_closure_mismatch", "c-1ccccc:1"),
    # late-r10 extended chirality classes (strip as whole tokens,
    # useChirality=False like @/@@).  Closed forms:
    #   ext_th_ch3  [C@TH1H3]Cl — ≡ [CH3]Cl, CH3–Cl bond iff Cl variant
    #   ext_oh      [C@OH1]     — ≡ [C] (octahedral class consumed
    #                             ATOMICALLY: a '@'+H1-count misread
    #                             would give [CH1], false everywhere),
    #                             always true
    #   ext_sp_ring [c@SP3]     — ≡ [c], iff ring variant
    ("probe_ext_th_ch3", "[C@TH1H3]Cl"),
    ("probe_ext_oh", "[C@OH1]"),
    ("probe_ext_sp_ring", "[c@SP3]"),
]

# probes whose truth is a closed form of the construction, not strpos
_K3_STRUCTURAL_TRUE_ON_CL = (
    "probe_ccl", "probe_branch", "probe_branch_swap", "probe_stereo_ch3_cl",
    "probe_notringbond", "probe_bondlist_cl",
    "probe_bexpr_notring_cl", "probe_bexpr_negor_cl", "probe_ext_th_ch3",
    "probe_alt_halo", "probe_neg_before_cl", "probe_rec_cl_ch3",
    "probe_malt_cl_nh2", "probe_aconj_halo", "probe_rec_nested",
    "probe_rec_nested3",
)
_K3_TRUE_ON_RING = (
    "probe_num_arom", "probe_neg_ch3", "probe_arom_wild",
    "probe_ring_mem", "probe_rec_ring", "probe_conj_arom_ring",
    "probe_malt_ch3_arom", "probe_aconj_ring", "probe_nconj_ring",
    "probe_nalt_arom", "probe_r1", "probe_conj_r1",
    "probe_rec_deep_ring", "probe_ringbond_arom", "probe_anybond_arom",
    "probe_bexpr_ringsingle", "probe_bexpr_prec", "probe_closure_arom",
    "probe_ext_sp_ring",
)
_K3_ALWAYS_TRUE = (
    "probe_neg_h", "probe_alt_n", "probe_aliph", "probe_acyclic",
    "probe_rec_not_cl", "probe_conj_acyclic_c",
    "probe_malt_ch3_nh2", "probe_malt_chg", "probe_r0_chain",
    "probe_not_nested3", "probe_stereo_ch3", "probe_stereo_dirbond",
    "probe_anybond_n", "probe_bexpr_neg_n", "probe_ext_oh",
)
_K3_ALWAYS_FALSE = (
    "probe_ocl", "probe_dbl", "probe_charge", "probe_malt_ch2_nh",
    "probe_r2", "probe_ringbond_cl", "probe_bondlist_co",
    "probe_bexpr_dbl_acyc", "probe_closure_aliph", "probe_closure_mismatch",
)


def q_k3_substructure(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K3 structural substructure matching (HasSubstructMatch,
    mapBaseRetroRules.py:37-53) via the pure-Python SMARTS-subset engine:
    every probe pattern checked against every generated structure inside
    an Arrow-batched mapInPandas.  The oracle is plain string containment
    — equivalent to the embedding on this construction (see K3_PROBES) —
    so both positive and negative engine verdicts are hash-checked."""
    from ..operators.containment import structural_substructure_verify

    part = _t(spark, sf_dir, "part")
    structs = part.select(
        "p_partkey",
        F.concat(
            F.expr("repeat('C', (p_size % 5) + 1)"),
            F.expr("repeat('O', cast(p_partkey % 3 as int))"),
            F.lit("[N&X3:2]"),
            F.when(F.col("p_partkey") % 2 == 0, F.lit("Cl")).otherwise(F.lit("c1ccccc1")),
            F.lit("[CH3]"),
        ).alias("outer_smarts"),
    )
    probes = local_frame(spark, K3_PROBES, "probe_id string, inner_smarts string")
    pairs = structs.crossJoin(F.broadcast(probes))
    return structural_substructure_verify(pairs).select(
        "p_partkey", "probe_id", "is_substruct"
    )


SQL_K3_SUBSTRUCTURE = (
    "WITH s AS (\n"
    "  SELECT p_partkey,\n"
    "         repeat('C', (p_size % 5) + 1) || repeat('O', CAST(p_partkey % 3 AS INT))\n"
    "           || '[N&X3:2]'\n"
    "           || CASE WHEN p_partkey % 2 = 0 THEN 'Cl' ELSE 'c1ccccc1' END\n"
    "           || '[CH3]' AS smarts\n"
    "  FROM part\n"
    "), probes(probe_id, probe) AS (VALUES "
    + ", ".join(f"('{pid}', '{p}')" for pid, p in K3_PROBES)
    + ")\n"
    "SELECT p_partkey, probe_id,\n"
    "       CASE WHEN probe_id IN ("
    + ", ".join(f"'{p}'" for p in _K3_STRUCTURAL_TRUE_ON_CL)
    + ") THEN p_partkey % 2 = 0\n"
    "            WHEN probe_id IN ("
    + ", ".join(f"'{p}'" for p in _K3_TRUE_ON_RING)
    + ") THEN p_partkey % 2 = 1\n"
    "            WHEN probe_id IN ("
    + ", ".join(f"'{p}'" for p in _K3_ALWAYS_TRUE)
    + ") THEN TRUE\n"
    "            WHEN probe_id IN ("
    + ", ".join(f"'{p}'" for p in _K3_ALWAYS_FALSE)
    + ") THEN FALSE\n"
    "            ELSE strpos(smarts, probe) > 0 END AS is_substruct\n"
    "FROM s, probes\n"
)


def q_k10_pca_closed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K10 closed-form-oracled special case: PCA batch check on a RANK-1
    profile matrix.  With cells value = r(gene)·c(sample) the per-gene
    centered matrix is r_g·(c_s − c̄), so PC1 scores are
    ±(c_s − c̄)·sqrt(Σ_g r_g²) in closed form, and with exactly 3 batches
    the one-way-ANOVA F tail reduces to I_x(d2/2, 1) = x^(d2/2) — all
    plain SQL.  This hash-checks the SAME distributed-Gram + eigh + ANOVA
    machinery (`pca_batch_check`) that `k10_pca_batch` can only
    rows-check.  Reference semantics: TCGA_GENERIC_CheckBatchEffect,
    MethylMix/Download_Preprocess.R:828-848.

    c_s = s²+1 keeps |c_s − c̄| distinct (no argmax-sign tie between the
    engines; verified for the testdata p_size domains)."""
    part = _t(spark, sf_dir, "part")
    genes = part.select((F.col("p_partkey") % 25).alias("gid")).distinct()
    samples = part.select(F.col("p_size").alias("sz")).distinct()
    cells = genes.crossJoin(samples).select(
        F.col("gid").cast("string").alias("gene"),
        F.col("sz").cast("string").alias("sample"),
        (((F.col("gid") % 7) + 1) * (F.col("sz") * F.col("sz") + 1))
        .cast("double")
        .alias("v"),
    )
    batches = samples.select(
        F.col("sz").cast("string").alias("sample"),
        (F.col("sz") % 3).cast("string").alias("batch"),
    )
    return pca_batch_check(cells, "gene", "sample", "v", batches)


SQL_K10_PCA_CLOSED = """
WITH s AS (SELECT DISTINCT p_size AS sz FROM part),
g AS (SELECT DISTINCT p_partkey % 25 AS gid FROM part),
rsum AS (SELECT sum(CAST((gid % 7) + 1 AS DOUBLE) * ((gid % 7) + 1)) AS rr FROM g),
c AS (SELECT sz, CAST(sz * sz + 1 AS DOUBLE) AS cv FROM s),
cm AS (SELECT avg(cv) AS mu FROM c),
v AS (SELECT sz, cv - mu AS vv FROM c, cm),
-- deterministic sign: the largest-|coordinate| component positive
-- (ties broken in sorted-sample-string order, matching np.argmax over
-- the engine's sorted sample list; c_s = s^2+1 makes ties impossible)
sgn AS (
  SELECT CASE WHEN vv < 0 THEN -1.0 ELSE 1.0 END AS sg
  FROM v ORDER BY abs(vv) DESC, CAST(sz AS VARCHAR) LIMIT 1
),
pc AS (
  SELECT CAST(sz AS VARCHAR) AS sample, CAST(sz % 3 AS VARCHAR) AS batch,
         sg * vv * sqrt(rr) AS pc1
  FROM v, sgn, rsum
),
grand AS (
  SELECT avg(pc1) AS gm, count(*) AS n, count(DISTINCT batch) AS k FROM pc
),
gstat AS (SELECT batch, count(*) AS ng, avg(pc1) AS mg FROM pc GROUP BY batch),
ss AS (
  SELECT sum(gstat.ng * (gstat.mg - grand.gm) * (gstat.mg - grand.gm)) AS ssb,
         max(grand.n) AS n, max(grand.k) AS k
  FROM gstat, grand
),
ssw AS (
  SELECT sum((pc.pc1 - gstat.mg) * (pc.pc1 - gstat.mg)) AS ssw
  FROM pc JOIN gstat USING (batch)
),
ftab AS (
  SELECT (ss.ssb / (ss.k - 1)) / (ssw.ssw / (ss.n - ss.k)) AS f,
         ss.n - ss.k AS d2, ss.k - 1 AS d1
  FROM ss, ssw
)
SELECT pc.sample, pc.batch, round(pc.pc1, 6) AS pc1,
       round(ftab.f, 6) AS f_stat,
       -- k=3 -> d1=2 -> F tail I_x(d2/2, 1) = x^(d2/2), x = d2/(d2+2f)
       round(pow(ftab.d2 / (ftab.d2 + 2.0 * ftab.f), ftab.d2 / 2.0), 6) AS p_value
FROM pc, ftab
"""


def q_k13_poisson_2group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K13 closed-form-oracled special case: two-group Poisson GLM with
    offset run through the SAME ``_nb_irls`` machinery as the NB fit
    (dispersion=0).  The two-group Poisson MLE has a closed form —
    intercept = ln(Y₀/E₀), group coef = ln((Y₁/E₁)/(Y₀/E₀)) with
    SE² = 1/Y₀ and 1/Y₀+1/Y₁, and glmLRT statistic
    2·[Σ_g Y_g·ln(Y_g/E_g) − Y·ln(Y/E)] — so DuckDB can hash-check the
    iterative kernel that `k13_count_glm` can only rows-check.
    Reference semantics: Robinson_method/R/run_ABCD-DNA.R:10-84 (edgeR
    glmFit/glmLRT with CN offsets; Poisson = dispersion→0 limit).
    p-value is excluded (erfc isn't SQL-expressible); lr and z_lrt pin
    the same likelihood surface."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    counts = (
        li.join(part, li.l_partkey == part.p_partkey)
        .groupBy("p_brand", "l_linestatus", "l_returnflag")
        .agg(
            F.count(F.lit(1)).cast("double").alias("n"),
            F.sum("l_quantity").cast("double").alias("exposure"),
        )
    )
    out = count_glm_offset(
        counts, "p_brand", "n", "l_linestatus", "exposure", dispersion=0.0
    )
    return out.select("p_brand", "coef", "estimate", "se", "z", "lr", "z_lrt")


SQL_K13_POISSON_2GROUP = """
WITH counts AS (
  SELECT p_brand, l_linestatus AS grp,
         CAST(count(*) AS DOUBLE) AS n,
         CAST(sum(l_quantity) AS DOUBLE) AS exposure
  FROM lineitem JOIN part ON l_partkey = p_partkey
  GROUP BY p_brand, l_linestatus, l_returnflag
), g AS (
  SELECT p_brand, grp, sum(n) AS y, sum(exposure) AS e
  FROM counts GROUP BY p_brand, grp
), lv AS (
  SELECT p_brand, min(grp) AS g0, max(grp) AS g1, count(DISTINCT grp) AS k
  FROM g GROUP BY p_brand
), s AS (
  SELECT g.p_brand,
         max(lv.g1) AS g1name,
         sum(CASE WHEN grp = g0 THEN y ELSE 0 END) AS y0,
         sum(CASE WHEN grp = g0 THEN e ELSE 0 END) AS e0,
         sum(CASE WHEN grp = g1 THEN y ELSE 0 END) AS y1,
         sum(CASE WHEN grp = g1 THEN e ELSE 0 END) AS e1
  FROM g JOIN lv USING (p_brand) WHERE lv.k = 2
  GROUP BY g.p_brand
)
SELECT p_brand, 'intercept' AS coef,
       round(ln(y0 / e0), 6) AS estimate,
       round(sqrt(1.0 / y0), 6) AS se,
       round(ln(y0 / e0) / greatest(sqrt(1.0 / y0), 1e-12), 6) AS z,
       CAST(NULL AS DOUBLE) AS lr,
       CAST(NULL AS DOUBLE) AS z_lrt
FROM s
UNION ALL
SELECT p_brand, 'l_linestatus=' || g1name AS coef,
       round(ln((y1 / e1) / (y0 / e0)), 6) AS estimate,
       round(sqrt(1.0 / y0 + 1.0 / y1), 6) AS se,
       round(ln((y1 / e1) / (y0 / e0))
             / greatest(sqrt(1.0 / y0 + 1.0 / y1), 1e-12), 6) AS z,
       round(2.0 * (y0 * ln(y0 / e0) + y1 * ln(y1 / e1)
             - (y0 + y1) * ln((y0 + y1) / (e0 + e1))), 6) AS lr,
       round(-sign(ln((y1 / e1) / (y0 / e0)))
             * sqrt(greatest(2.0 * (y0 * ln(y0 / e0) + y1 * ln(y1 / e1)
                   - (y0 + y1) * ln((y0 + y1) / (e0 + e1))), 0.0)), 6) AS z_lrt
FROM s
"""


def q_k13_roc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K13 ROC summary (makeROCCurve/performance(pred,'auc'),
    Robinson_method/R/functions.R:23-111) as pure window aggregation:
    AUC of events.value as a classifier of event_type='error', per
    user_id%4 cohort.  Fully declarative → DuckDB-oracle hash check."""
    ev = _t(spark, sf_dir, "events")
    scored = ev.select(
        (F.col("user_id") % 4).cast("string").alias("cohort"),
        F.round(F.col("value"), 1).alias("score"),
        F.when(F.col("event_type") == "error", 1).otherwise(0).alias("label"),
    )
    return roc_auc(scored, "score", "label", group_cols=["cohort"])


SQL_K13_ROC = """
WITH scored AS (
  SELECT CAST(user_id % 4 AS VARCHAR) AS cohort, round(value, 1) AS score,
         CASE WHEN event_type = 'error' THEN 1 ELSE 0 END AS label
  FROM events
), agg AS (
  SELECT cohort, score,
         CAST(sum(label) AS DOUBLE) AS pos,
         CAST(sum(1 - label) AS DOUBLE) AS neg
  FROM scored GROUP BY cohort, score
), pts AS (
  SELECT cohort, score,
         sum(pos) OVER (PARTITION BY cohort ORDER BY score DESC) /
           sum(pos) OVER (PARTITION BY cohort) AS tpr,
         sum(neg) OVER (PARTITION BY cohort ORDER BY score DESC) /
           sum(neg) OVER (PARTITION BY cohort) AS fpr,
         CAST(sum(pos) OVER (PARTITION BY cohort) AS BIGINT) AS p,
         CAST(sum(neg) OVER (PARTITION BY cohort) AS BIGINT) AS n
  FROM agg
), trap AS (
  SELECT cohort, p, n,
         (fpr - lag(fpr, 1, 0.0) OVER (PARTITION BY cohort ORDER BY score DESC))
         * (tpr + lag(tpr, 1, 0.0) OVER (PARTITION BY cohort ORDER BY score DESC))
         / 2.0 AS area
  FROM pts
)
SELECT cohort, round(sum(area), 6) AS auc, first(p) AS n_pos, first(n) AS n_neg
FROM trap GROUP BY cohort
"""


REACTION_RULES = [
    ("r_sub_table", "table", "tbl"),
    ("r_sub_value", "value", "val"),
    ("r_drop_vowel_run", "[aeiou]{2,}", "_"),
]
REACTION_RULES_SQL = ", ".join(f"('{r}', '{p}', '{s}')" for r, p, s in REACTION_RULES)


def q_k1_reaction_products(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K1 shape (gizmos.py:193-234 generate_virtual_molecule): apply every
    rule to every structure, keep transformed products, assign
    deterministic content-hash product ids (F5 fix for the reference's
    random VM_ ids).  The RDKit reaction would replace the regexp kernel
    under the same 1→N dataflow."""
    from ..operators.reactions import apply_reactions

    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") % 10 == 0)
    rules = local_frame(
        spark, REACTION_RULES, "rule_id string, pattern string, replacement string"
    )
    reacted = apply_reactions(docs, rules, id_col="doc_id", substrate_col="text")
    return reacted.select(
        "substrate_id",
        "rule_id",
        "product_id",
        F.length("product").cast("long").alias("product_len"),
    )


SQL_K1_REACTION = f"""
WITH rules AS (SELECT * FROM (VALUES {REACTION_RULES_SQL}) AS r(rule_id, pattern, replacement)),
reacted AS (
  SELECT doc_id, rule_id, regexp_replace(text, pattern, replacement, 'g') AS product_text, text
  FROM documents CROSS JOIN rules
  WHERE doc_id % 10 = 0
)
SELECT doc_id AS substrate_id, rule_id,
       'VM_' || substr(sha256(product_text), 1, 16) AS product_id,
       length(product_text)::BIGINT AS product_len
FROM reacted WHERE product_text != text
"""


# K1 graph-writer fixtures: substrates where the rewrite site is
# interrupted by substrate-side branches the pattern lacks (b=0,2,3) or
# plain chains the linear splice handles (b=1).  Every substrate ends in
# a single C–O attachment, so each rule rewrites exactly that site and
# the oracle can predict the product textually: the graph serializer
# visits branches in substrate order and appends inserted atoms last,
# so the product is the substrate with the trailing O swapped for the
# rule's textual tail — an independent route through DuckDB regexp.
GRAPH_RXN_RULES = [
    # rule_id, pattern, template, oracle tail replacing the trailing 'O'
    ("r_aminate", "[C:1]O", "[C:1]N", "N"),
    ("r_oxo", "[C:1][O:2]", "[C:1]=[O:2]", "=O"),
    ("r_homologate", "[C:1]O", "[C:1]CO", "CO"),
    # r8 query-primitive probes (widened SMARTS subset): the substrate's
    # single O is bonded to exactly one carbon, so alternation [C,N:1],
    # negation [!#1:1], and atomic-number [#6:1] each match that same
    # unique site — the oracle stays the textual tail-swap, now driven
    # through the query-atom matching path
    ("r_alt_thio", "[C,N:1]O", "[C:1]S", "S"),
    ("r_neg_homolog", "[!#1:1]O", "[C:1]CN", "CN"),
    ("r_num_aminate", "[#6:1]O", "[C:1]N", "N"),
    # r9 per-alternative modifier probe: the C+ alternative carries its
    # own charge mod and never matches (no charged atoms), so the bare C
    # alternative selects the same unique C–O site
    ("r_malt_phos", "[C+,C:1]O", "[C:1]P", "P"),
    # r9 negated-item alternation: !N never matters here (the site is a
    # C), so the C alternative selects the same unique C–O site
    ("r_nalt_bor", "[C,!N:1]O", "[C:1]B", "B"),
    # r10 ring-count conjunct: every substrate is acyclic, so [C;R0]
    # selects the same unique C–O site through the ring-count matcher
    ("r_ring0_iod", "[C;R0:1]O", "[C:1]I", "I"),
    # r10 depth-3 recursive environment as a MAPPED reactant atom:
    # [$(C)] = aliphatic C, [$([$(C)]O)] = C single-bonded to O, and the
    # outer wrap preserves the anchor set — the substrate's single O has
    # exactly one C neighbour, so the pattern selects the same unique
    # C–O site through three levels of anchor recursion
    ("r_rec3_fluor", "[$([$([$(C)]O)]):1]O", "[C:1]F", "F"),
    # r10 stereo marks on BOTH sides of a mapped rule (parse-and-ignore,
    # RDKit useChirality=False default): strips to [C:1]O >> [C:1]N,
    # the same unique C-O site and tail as r_aminate
    ("r_stereo_aminate", "[C@:1]O", "[C@@:1]N", "N"),
    # late-r10 ring-bond query as a reactant bond: every substrate's
    # single C-O attachment is acyclic, so [C:1]!@O selects the same
    # unique site through the query-bond matcher (the linear splice
    # declines query bonds, so this rule also pins the graph path)
    ("r_nrb_chlor", "[C:1]!@O", "[C:1]Cl", "Cl"),
    # late-r10 any-bond query as a reactant bond: ~ matches the same
    # unique (single) C-O attachment
    ("r_anyb_sulf", "[C:1]~O", "[C:1]S", "S"),
    # late-r10 bond OR-list as a reactant bond: the unique C-O site is
    # single, so '-,=' selects it through the any-of matcher
    ("r_blist_brom", "[C:1]-,=O", "[C:1]Br", "Br"),
    # late-r10 bond-expression conjunction as a reactant bond: the
    # unique C-O site is single AND acyclic, so '-&!@' selects it
    # through the compiled-expression matcher (linear splice declines,
    # pinning the graph path like r_nrb_chlor)
    ("r_bexpr_carb", "[C:1]-&!@O", "[C:1]C", "C"),
    # late-r10 negated-primitive OR: the single C-O bond fails '=' so
    # '!=' holds; '!=,!#' (not-double or not-triple) selects the site
    ("r_bexpr_phos2", "[C:1]!=,!#O", "[C:1]P", "P"),
]


def q_k1_graph_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K1 GRAPH rewrite (gizmos.py:193-234 RunReactants parity): the
    structural kernel applies atom-mapped rules at graph embeddings the
    linear splice cannot express — substrate-branch-interrupted spans
    like ``C(F)(Cl)O`` — via subgraph matching + graph re-serialization.
    Same broadcast fan-out / content-hash id dataflow as K1; the DuckDB
    oracle derives every product by textual tail-swap, an independent
    route that pins the serializer's writing."""
    from ..operators.reactions import apply_reactions
    from ..operators.smarts_engine import structural_reaction_kernel

    part = _t(spark, sf_dir, "part")
    substrate = F.concat(
        F.expr("repeat('C', p_size % 3)"),
        F.when(F.col("p_partkey") % 4 == 0, F.lit("C(F)O"))
        .when(F.col("p_partkey") % 4 == 1, F.lit("CCO"))
        .when(F.col("p_partkey") % 4 == 2, F.lit("C(F)(Cl)O"))
        .otherwise(F.lit("C(CC)O")),
    )
    subs = part.select(
        F.col("p_partkey").alias("substrate_id"), substrate.alias("substrate")
    )
    rules = local_frame(
        spark,
        [(r, p, t) for r, p, t, _ in GRAPH_RXN_RULES],
        "rule_id string, pattern string, replacement string",
    )
    return apply_reactions(subs, rules, kernel=structural_reaction_kernel).select(
        "substrate_id", "rule_id", "product", "product_id"
    )


GRAPH_RXN_RULES_SQL = ", ".join(
    f"('{r}', '{tail}')" for r, _, _, tail in GRAPH_RXN_RULES
)

SQL_K1_GRAPH_REWRITE = f"""
WITH s AS (
  SELECT p_partkey AS substrate_id,
         repeat('C', p_size % 3) ||
         CASE p_partkey % 4 WHEN 0 THEN 'C(F)O' WHEN 1 THEN 'CCO'
                            WHEN 2 THEN 'C(F)(Cl)O' ELSE 'C(CC)O' END AS substrate
  FROM part
), rules(rule_id, tail) AS (VALUES {GRAPH_RXN_RULES_SQL}),
prods AS (
  SELECT substrate_id, rule_id,
         regexp_replace(substrate, 'O$', tail) AS product
  FROM s CROSS JOIN rules
)
SELECT substrate_id, rule_id, product,
       'VM_' || substr(sha256(product), 1, 16) AS product_id
FROM prods
"""


def q_k11_cluster_probes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K11 per-gene probe clustering (1−corr, complete linkage, cut 0.6)
    — numpy agglomerative inside applyInPandas; rows-only check."""
    ev = _t(spark, sf_dir, "events")
    m = ev.select(
        (F.col("user_id") % 4).cast("string").alias("gene"),
        F.col("event_type").alias("probe"),
        F.col("user_id").cast("string").alias("sample"),
        F.col("value").alias("beta"),
    ).groupBy("gene", "probe", "sample").agg(F.avg("beta").alias("beta"))
    return cluster_probes(m, "gene", "probe", "sample", "beta", cut_height=0.6)


QUERIES_KERNELS: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "k1_reaction_products": q_k1_reaction_products,
    "k1_graph_rewrite": q_k1_graph_rewrite,
    "k11_cluster_probes": q_k11_cluster_probes,
    "multimodal_features": q_multimodal_features,
    "multimodal_frames": q_multimodal_frames,
    "k10_knn_impute": q_k10_knn_impute,
    "k12_partial_corr": q_k12_partial_corr,
    "k2_mass": q_k2_mass,
    "plan_reaction_mass": q_plan_reaction_mass,
    "k4_rule_bfs": q_k4_rule_bfs,
    "k12_perm_fdr": q_k12_perm_fdr,
    "k3_substructure": q_k3_substructure,
    "k10_pca_batch": q_k10_pca_batch,
    "k10_pca_closed": q_k10_pca_closed,
    "k13_count_glm": q_k13_count_glm,
    "k13_poisson_2group": q_k13_poisson_2group,
    "k13_roc": q_k13_roc,
}

ORACLES_KERNELS: dict[str, str] = {
    "k1_reaction_products": SQL_K1_REACTION,
    "k1_graph_rewrite": SQL_K1_GRAPH_REWRITE,
    "multimodal_features": SQL_MULTIMODAL,
    "multimodal_frames": SQL_MULTIMODAL_FRAMES,
    "k2_mass": SQL_K2_MASS,
    "plan_reaction_mass": SQL_PLAN_REACTION_MASS,
    "k4_rule_bfs": SQL_K4_RULE_BFS,
    "k12_perm_fdr": SQL_K12_PERM_FDR,
    "k3_substructure": SQL_K3_SUBSTRUCTURE,
    "k10_pca_closed": SQL_K10_PCA_CLOSED,
    "k13_poisson_2group": SQL_K13_POISSON_2GROUP,
    "k13_roc": SQL_K13_ROC,
    # k10/k12/k13_count_glm are iterative numpy kernels — rows-only check
}
