"""Query registry part 3 — analytics kernels (DriverNet greedy cover,
permutation null).  The greedy loop is inherently sequential (SURVEY §2
O3/K7) and the permutation fan-out uses a seeded RNG, so these have no
ANSI-SQL oracle — the driver records the weaker rows-only check.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from pyspark.sql import functions as F

from ..analytics.combat import combat_adjust, combat_mean_only
from ..analytics.drivernet import greedy_driver_selection, permutation_null_coverage
from ..sources.readers import local_frame
from .registry import _j12_events, _j12_tables, _t


def _perm_tables(spark: SparkSession, sf_dir: str):
    """DriverNet triple with permutation-ready column names."""
    mutations, edges, outliers = _j12_tables(spark, sf_dir)
    return (
        mutations.withColumnRenamed("gene", "mut_gene"),
        edges,
        outliers.withColumnRenamed("gene", "out_gene"),
    )


def q_drivernet_greedy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K7/O3: greedy driver selection over the J12 bipartite events —
    top-5 covering brands with newly-covered event counts."""
    events = _j12_events(spark, sf_dir)
    picks = greedy_driver_selection(events, k=5)
    return local_frame(
        spark,
        [(i, g, int(c)) for i, (g, c) in enumerate(picks)],
        "pick long, mut_gene string, covered long",
    )


def q_drivernet_permutation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A8: permutation-null per-rank coverage distribution (20 seeded
    runs, DriverNet SignificanceTest.R:28-74 — mutation/outlier gene
    names re-drawn per run upstream of the bipartite join); each null
    greedy runs to exhaustion so every rank is pooled
    (SignificanceTest.R:15,60 maxNumOfDrivers semantics)."""
    mutations, edges, outliers = _perm_tables(spark, sf_dir)
    return permutation_null_coverage(mutations, edges, outliers, n_runs=20, k=None)


def q_drivernet_significance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A8 + K7 end-to-end, DriverNet ResultSummary.R:104-129 semantics:
    per-driver empirical p-value = fraction of ALL pooled null coverages
    (every rank of every randomized run) exceeding that driver's observed
    coverage.  One row per selected driver; the null comparison is a
    single lazy aggregation plan (no per-gene actions)."""
    events = _j12_events(spark, sf_dir)
    picks = greedy_driver_selection(events, k=5)
    picks_df = local_frame(
        spark,
        [(i + 1, g, int(c)) for i, (g, c) in enumerate(picks)],
        "pick long, mut_gene string, covered long",
    )
    mutations, edges, outliers = _perm_tables(spark, sf_dir)
    null = permutation_null_coverage(
        mutations, edges, outliers, n_runs=20, k=None
    ).select("coverage")
    return (
        picks_df.crossJoin(null)
        .groupBy("pick", "mut_gene", "covered")
        .agg(
            F.sum((F.col("coverage") > F.col("covered")).cast("long")).alias("null_gt"),
            F.count(F.lit(1)).alias("n_null"),
        )
        .withColumn("p_value", F.round(F.col("null_gt") / F.col("n_null"), 6))
        .orderBy("pick")
    )


def q_combat_adjust(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K10 family: ComBat-style EB batch correction — feature = event_type,
    batch = source-ish bucket of user_id, value = event value."""
    ev = _t(spark, sf_dir, "events")
    cells = ev.select(
        F.col("event_type").alias("feature"),
        F.col("event_id").cast("string").alias("sample"),
        (F.col("user_id") % 3).cast("string").alias("batch"),
        F.col("value").alias("v"),
    )
    return combat_adjust(cells, "feature", "sample", "batch", "v")


def q_combat_adjust_digest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Value-level driver check for the EB ComBat output
    (ComBat_NoFiles.R:30-297): the 10k-row combat_adjust output is too
    large to pin as a VALUES literal, so this digests it to per-
    (feature, batch) aggregates — count, adjusted-value checksum, raw
    checksum — pinned as a golden oracle.  A change in any single
    sample's adjusted value moves the checksum; rounding to 3 decimals
    leaves ample headroom over float-sum reassociation noise."""
    adj = q_combat_adjust(spark, sf_dir)
    return (
        adj.groupBy("feature", "batch")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("adjusted"), 3).alias("adjusted_sum"),
            F.round(F.sum("v"), 3).alias("raw_sum"),
        )
    )


def q_clusterone_modules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K15-equivalent native module detection (wcModules.py:219-227): the
    same weighted interaction graph the S10 edge sink would feed the
    ClusterOne jar, clustered by the native cohesiveness greedy instead
    of the external binary.  Edge construction is distributed; the
    greedy runs driver-side on the collected post-filter graph (the
    jar's own operating point).  Deterministic → golden-pinned."""
    from ..analytics.clusterone import cluster_one

    ev = _t(spark, sf_dir, "events")
    # planted-module graph: 12 nodes in three K4 blocks — ~90% of events
    # contribute a within-block edge (to each of the 3 other members in
    # turn), ~10% a cross-block bridge.  The cohesiveness greedy should
    # recover exactly the three blocks; a uniform graph would collapse
    # into one cluster and a bare functional graph is an undetectable
    # cycle, so the planted structure is what makes this a real check
    return cluster_one(_planted_module_edges(ev))


def _planted_module_edges(ev: DataFrame) -> DataFrame:
    """The planted-module edge construction SHARED by clusterone_modules
    and its ego-forced twin — both check against the same golden pin, so
    the same-graph invariant must be structural, not copy-paste."""
    s = F.col("user_id") % 12
    blk = F.floor(s / 4)
    j = (F.col("user_id") / 12).cast("long")
    within = blk * 4 + ((s + 1 + j % 3) % 4)
    bridge = (s + 4) % 12
    return (
        ev.groupBy(
            s.cast("string").alias("src"),
            F.when(j % 10 == 0, bridge).otherwise(within).cast("string").alias("dst"),
        )
        .agg(F.count(F.lit(1)).alias("weight"))
        .where(F.col("src") != F.col("dst"))
    )


def q_clusterone_modules_ego(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SAME planted-module K15 query forced through the r9
    ego-delivery strategy (``ego_edge_threshold=0`` — the full edge list
    is never collected or broadcast) against the SAME golden pin.  The
    edge weights are integer counts, so every distributed float sum is
    exact and the strategies are bit-identical by construction — this
    registers real-testdata evidence for the scale path, not just the
    synthetic parity graphs."""
    from ..analytics.clusterone import cluster_one

    ev = _t(spark, sf_dir, "events")
    return cluster_one(_planted_module_edges(ev), ego_edge_threshold=0)


def q_combat_mean_only(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K10 family: closed-form mean-only ComBat (location-shift batch
    correction, no EB scale solve) — fully SQL-expressible, hash-checked;
    the EB variant stays rows-only (iterative shrinkage)."""
    ev = _t(spark, sf_dir, "events")
    cells = ev.select(
        F.col("event_type").alias("feature"),
        F.col("event_id").cast("string").alias("sample"),
        (F.col("user_id") % 3).cast("string").alias("batch"),
        F.col("value").alias("v"),
    )
    return combat_mean_only(cells, "feature", "sample", "batch", "v")


SQL_COMBAT_MEAN_ONLY = """
WITH cells AS (
  SELECT event_type AS feature, CAST(event_id AS VARCHAR) AS sample,
         CAST(user_id % 3 AS VARCHAR) AS batch, value AS v
  FROM events
), fs AS (
  SELECT feature, avg(v) AS gmean, var_pop(v) AS gvar
  FROM cells GROUP BY feature
), std AS (
  SELECT c.*, fs.gmean, fs.gvar,
         (c.v - fs.gmean) / sqrt(greatest(fs.gvar, 1e-12)) AS z
  FROM cells c JOIN fs USING (feature)
), g AS (
  SELECT feature, batch, avg(z) AS gamma
  FROM std GROUP BY feature, batch
)
SELECT s.feature, s.sample, round(s.v, 6) AS v,
       round((s.z - g.gamma) * sqrt(greatest(s.gvar, 1e-12)) + s.gmean, 6)
         AS adjusted
FROM std s JOIN g ON g.feature = s.feature AND g.batch = s.batch
"""


QUERIES_ANALYTICS: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "combat_mean_only": q_combat_mean_only,
    "drivernet_greedy": q_drivernet_greedy,
    "drivernet_permutation": q_drivernet_permutation,
    "drivernet_significance": q_drivernet_significance,
    "combat_adjust": q_combat_adjust,
    "combat_adjust_digest": q_combat_adjust_digest,
    "clusterone_modules": q_clusterone_modules,
    "clusterone_modules_ego": q_clusterone_modules_ego,
}


def _greedy_round_sql(i: int) -> str:
    """One unrolled greedy round: pick argmax coverage (ties by gene key),
    remove its covered (patient, out_gene) events from the remainder."""
    prev = f"rem{i - 1}"
    return f"""
pick{i} AS (
  SELECT mut_gene, count(*) AS cov FROM {prev}
  GROUP BY mut_gene ORDER BY cov DESC, mut_gene ASC LIMIT 1
),
rem{i} AS (
  SELECT r.* FROM {prev} r
  WHERE NOT EXISTS (
    SELECT 1 FROM {prev} c JOIN pick{i} p ON c.mut_gene = p.mut_gene
    WHERE c.patient = r.patient AND c.out_gene = r.out_gene
  )
)"""


# the greedy cover is sequential but its round count is fixed (k=5), so the
# oracle is the J12 event construction + 5 unrolled pick/remove rounds —
# the same trick as the pathway-expansion unrolled CTE
SQL_DRIVERNET_GREEDY = (
    """
WITH joined AS (
  SELECT o.o_custkey, p.p_brand, p.p_type, l.l_extendedprice
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
                  JOIN part p ON l.l_partkey = p.p_partkey
),
mut AS (SELECT DISTINCT o_custkey AS patient, p_brand AS mut_gene FROM joined),
edges AS (SELECT DISTINCT p_brand AS mut_gene, p_type AS out_gene FROM part),
st AS (
  SELECT o_custkey, p_type, l_extendedprice,
         avg(l_extendedprice) OVER (PARTITION BY p_type) AS mu,
         stddev(l_extendedprice) OVER (PARTITION BY p_type) AS sd
  FROM joined
),
outl AS (
  SELECT DISTINCT o_custkey AS patient, p_type AS out_gene FROM st
  WHERE sd IS NOT NULL AND sd > 0 AND abs(l_extendedprice - mu) >= 1.5 * sd
),
rem0 AS (
  SELECT DISTINCT m.patient, m.mut_gene, e.out_gene
  FROM mut m JOIN edges e USING (mut_gene)
             JOIN outl o ON o.patient = m.patient AND o.out_gene = e.out_gene
),"""
    + ",".join(_greedy_round_sql(i) for i in range(1, 6))
    + """
SELECT * FROM (
  SELECT 0 AS pick, mut_gene, cov AS covered FROM pick1
  UNION ALL SELECT 1, mut_gene, cov FROM pick2
  UNION ALL SELECT 2, mut_gene, cov FROM pick3
  UNION ALL SELECT 3, mut_gene, cov FROM pick4
  UNION ALL SELECT 4, mut_gene, cov FROM pick5
) WHERE covered > 0
"""
)

# drivernet_permutation/significance and combat_adjust get golden-VALUES
# oracles in plans/golden_oracles.py (the full combat_adjust output stays
# rows-only; combat_adjust_digest value-locks it per (feature, batch))
ORACLES_ANALYTICS: dict[str, str] = {
    "drivernet_greedy": SQL_DRIVERNET_GREEDY,
    "combat_mean_only": SQL_COMBAT_MEAN_ONLY,
}
