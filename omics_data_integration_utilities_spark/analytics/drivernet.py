"""DriverNet-style analytics (SURVEY §2 K7/O3/A8, reference
``DriverNet/DriverSelection.R`` and ``SignificanceTest.R``).

Two pieces:

- :func:`greedy_driver_selection` — the inherently sequential greedy
  set-cover.  Spark prepares the bipartite event table (J12, distributed);
  the K-round loop itself runs as K tiny Spark jobs (groupBy + top-1 +
  anti-join), collecting only one winner row per round.  Event data never
  leaves the cluster — at 100 TB the anti-join shrinks the working set
  every round, and ``materialize`` keeps lineage flat.

- :func:`permutation_null_coverage` — the reference's 500 randomized
  greedy re-runs (``SignificanceTest.R:28-74``) as a broadcast-once +
  ``range(n_runs)`` fan-out: each task permutes the gene↔event
  association with a run-seeded RNG and replays the greedy cover in
  pandas (each run's data is small — patients×genes — exactly why the
  reference could run it in R).  Emits per-rank coverages so
  ``ResultSummary.R:104-129``-style per-driver p-values pool them.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..session import materialize

# Distinct event tables up to this many rows are collected and the greedy
# runs on the driver.
GREEDY_COLLECT_THRESHOLD = 2_000_000


def greedy_driver_selection(
    events: DataFrame,
    mut_col: str = "mut_gene",
    event_cols: tuple[str, str] = ("patient", "out_gene"),
    k: int = 5,
) -> list[tuple[str, int]]:
    """Greedy set cover: repeatedly pick the mutated gene covering the most
    remaining (patient, outlier-gene) events; remove covered events.

    Returns [(gene, newly_covered_count), ...] in selection order.
    Deterministic: ties break on the gene key ascending.

    Two physical strategies with identical output (SURVEY §2.6 O3):

    - when the distinct event table fits the driver
      (``<= GREEDY_COLLECT_THRESHOLD`` rows), collect once and run the loop
      in-memory — K rounds of full-stage Spark scheduling collapse into
      ONE job + a driver loop (on a real cluster the 2·K job round-trips
      dominate at small K×small data, which is the common case: the
      event table is patients × genes);
    - otherwise the distributed loop: K tiny jobs (groupBy + top-1 +
      anti-join), collecting only one winner row per round, with a
      lazy ``materialize`` per round keeping lineage flat: the next
      round's top-1 aggregation is the job that stores it, and its empty
      result ends the loop.
    """
    ev = list(event_cols)
    distinct = materialize(events.select(mut_col, *ev).distinct())
    n_events = distinct.count()
    if n_events <= GREEDY_COLLECT_THRESHOLD:
        pdf = distinct.toPandas()
        pdf = pdf.assign(
            event=pdf[ev[0]].astype(str) + "\x1f" + pdf[ev[1]].astype(str)
        ).rename(columns={mut_col: "mut_gene"})
        return _greedy_pandas_named(pdf[["mut_gene", "event"]], k)
    remaining = distinct
    out: list[tuple[str, int]] = []
    for _ in range(k):
        top = (
            remaining.groupBy(mut_col)
            .agg(F.count(F.lit(1)).alias("__cov"))
            .orderBy(F.col("__cov").desc(), F.col(mut_col).asc())
            .limit(1)
            .collect()
        )
        if not top:
            break
        gene, cov = top[0][0], top[0][1]
        out.append((gene, cov))
        covered = remaining.where(F.col(mut_col) == gene).select(*ev).distinct()
        remaining = materialize(remaining.join(covered, ev, "left_anti"))
    return out


def _greedy_pandas_named(pdf: pd.DataFrame, k: int | None) -> list[tuple[str, int]]:
    """In-memory greedy cover over (mut_gene, event) rows →
    [(gene, newly_covered)] — the tie-break (strictly-greater gain over
    genes in ascending key order) matches the distributed loop's
    ``orderBy(cov desc, gene asc)`` exactly."""
    sets = pdf.groupby("mut_gene")["event"].apply(set).to_dict()
    covered: set = set()
    out: list[tuple[str, int]] = []
    rounds = len(sets) if k is None else k
    for _ in range(rounds):
        best_gene, best_gain = None, 0
        for g in sorted(sets):
            gain = len(sets[g] - covered)
            if gain > best_gain:
                best_gene, best_gain = g, gain
        if best_gene is None:
            break
        covered |= sets[best_gene]
        out.append((best_gene, best_gain))
    return out


def _greedy_pandas(pdf: pd.DataFrame, k: int | None) -> list[int]:
    """Coverage sizes only (the permutation-null path); ``k=None`` runs
    the greedy to exhaustion (every gene with remaining gain)."""
    return [c for _, c in _greedy_pandas_named(pdf, k)]


PERM_SEED = 20260813


def permutation_null_coverage(
    mutations: DataFrame,
    edges: DataFrame,
    outliers: DataFrame,
    n_runs: int = 100,
    k: int | None = None,
) -> DataFrame:
    """Null distribution of per-rank greedy coverage (DriverNet
    ``SignificanceTest.R:28-74``): each run re-draws the gene NAMES of the
    mutation and outlier tables from the pooled gene universe (sampling
    without replacement, run-seeded) while the influence graph stays
    fixed, rebuilds the bipartite event table, and replays the greedy
    cover -- exactly the reference's ``randomizedMutationNames`` /
    ``randomizedOutlierNames`` column relabeling.  Permuting anything
    *downstream* of the join is too weak: a bijective rename of the event
    table's gene key preserves every event-set family, and permuting
    labels against joined rows preserves per-gene event counts -- either
    way the observed coverage reappears in every run and p-values pin at
    ~1.

    ``k=None`` (default) replays each null greedy to exhaustion and pools
    ALL ranks — the reference's randomized runs go to ``maxNumOfDrivers``
    (SignificanceTest.R:15,60) and ResultSummary.R:104-129 pools every
    rank of every run; truncating the null at the observed top-k would
    bias it toward large coverages and make p-values conservative.

    Scale shape: the three input tables are collected ONCE and shipped in
    the task closure (patients x genes matrices by construction -- the
    same data the greedy loop itself needs in memory; closure capture
    instead of ``sparkContext.broadcast`` so nothing outlives the job).
    The fan-out is ``range(n_runs)``, one run per task, so nothing is
    replicated through a shuffle n_runs times.

    Expects mutations(patient, mut_gene), edges(src, dst),
    outliers(patient, out_gene).
    Returns (run_id, rank, coverage) -- one row per greedy pick per run.
    """
    spark = mutations.sparkSession
    mut_p = mutations.select("patient", "mut_gene").distinct().toPandas()
    edges_p = edges.select("src", "dst").distinct().toPandas()
    outl_p = outliers.select("patient", "out_gene").distinct().toPandas()
    universe = sorted(
        set(mut_p["mut_gene"]) | set(outl_p["out_gene"])
        | set(edges_p["src"]) | set(edges_p["dst"])
    )
    closure = (mut_p, edges_p, outl_p, universe)
    runs = spark.range(n_runs).withColumnRenamed("id", "run_id")

    def run_one(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        run_id = int(pdf["run_id"].iloc[0])
        mut, edg, outl, genes = closure
        rng = np.random.default_rng(PERM_SEED + run_id)
        mut_names = sorted(mut["mut_gene"].unique())
        outl_names = sorted(outl["out_gene"].unique())
        new_mut = dict(zip(mut_names, rng.choice(genes, size=len(mut_names), replace=False)))
        new_outl = dict(zip(outl_names, rng.choice(genes, size=len(outl_names), replace=False)))
        mut_r = mut.assign(mut_gene=mut["mut_gene"].map(new_mut))
        outl_r = outl.assign(out_gene=outl["out_gene"].map(new_outl))
        ev = mut_r.merge(edg, left_on="mut_gene", right_on="src").merge(
            outl_r, left_on=["dst", "patient"], right_on=["out_gene", "patient"]
        )
        ev = ev.assign(event=ev["patient"].astype(str) + "\x1f" + ev["dst"].astype(str))
        sizes = _greedy_pandas(ev[["mut_gene", "event"]], k)
        return pd.DataFrame(
            {
                "run_id": run_id,
                "rank": range(1, len(sizes) + 1),
                "coverage": [int(s) for s in sizes],
            }
        )

    return runs.groupBy("run_id").applyInPandas(
        run_one, schema="run_id long, rank long, coverage long"
    )
