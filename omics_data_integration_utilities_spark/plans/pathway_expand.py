"""Iterative pathway expansion — the §3.3 ``heraldPathways`` lifecycle
(reference ``heraldPathways.py:381-491`` ``reaction_loop``) restated as a
driver-orchestrated loop of pure DataFrame rounds.

Reference shape: for ≤ ``--iterations`` rounds, react every unreacted
structure (Pool fan-out per structure), assign product IDs against known
structures (mutable shared lists updated in callbacks), mark reacted,
iterate.  Spark restatement (SURVEY §7 M6):

- each round: candidate products via the transition match (J6) → keep
  only products that exist in the known-structure table (the reference's
  id-assignment join) → anti-join against everything already reached
  from the same root (the dedup that replaces shared mutable state) →
  union into the frontier;
- for small fixed round counts (≤ ``UNROLL_ROUNDS``) the loop is left
  **lazy**: the whole expansion plans as ONE Spark job and
  ``ReusedExchange`` dedupes the shared per-round subtrees, removing the
  per-round materialization jobs and their driver round-trips
  (optimization guide §1.2 step 1 / §3.3 — measured 6.4× at sf0.1);
- for deeper expansions a per-round ``materialize`` cuts the growing
  lineage (the K5 risk note in SURVEY §7; the unrolled plan grows
  O(rounds²) and planning time would dominate) and enables the
  empty-frontier early exit;
- fully deterministic: product identity is the matched structure id — no
  random VM ids.

The analog domain: structures = parts keyed by retail price (the "mass"),
reactions = a small signed transition table; a product exists when some
part sits at the transitioned price point — exactly the reference's
"candidate mass matched back against the mass table" semantics.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..session import materialize

# Rounds up to which the loop stays lazy (one job, ReusedExchange dedupes
# the shared subtrees).  Beyond this the unrolled plan's O(rounds²) growth
# makes planning itself the bottleneck (guide §3.3), so the loop falls
# back to per-round materialization with early exit.
UNROLL_ROUNDS = 4


def iterative_expand(
    structures: DataFrame,
    transitions: DataFrame,
    iterations: int = 3,
    id_col: str = "structure_id",
    mass_col: str = "mm",
    delta_col: str = "delta",
    digits: int = 1,
    known: DataFrame | None = None,
) -> DataFrame:
    """Breadth-first expansion: returns (root, structure_id, round) for
    every structure reachable from each root in ≤ ``iterations`` rounds.

    ``structures``: (structure_id, mm) — the expansion roots.  ``known``
    (defaults to ``structures``): the structure table products are matched
    against.  ``transitions``: (transition, delta), broadcast.  One
    shuffled equi-join per round on the integer price-grid key; the
    anti-join dedup keeps the frontier minimal.

    Up to ``UNROLL_ROUNDS`` rounds the loop builds one lazy composite
    plan — no per-round jobs, no driver round-trips, identical results
    (an empty round contributes zero rows either way, so skipping the
    early exit changes nothing).
    """
    scale = 10 ** digits
    unroll = iterations <= UNROLL_ROUNDS
    known_src = known if known is not None else structures
    known = known_src.select(
        F.round(F.col(mass_col) * scale, 0).cast("long").alias("__key"),
        F.col(id_col).alias("__product_id"),
        F.col(mass_col).alias("__product_mm"),
    )
    if not unroll:
        # the known-structure grid joins EVERY round: checkpoint it once
        # so the scan + key projection run once instead of per round (in
        # the unrolled form ReusedExchange serves the same purpose inside
        # the single job)
        known = materialize(known)

    frontier = structures.select(
        F.col(id_col).alias("root"), F.col(id_col).alias("structure_id"), F.col(mass_col)
    )
    reached = frontier.select("root", "structure_id")
    out = frontier.select("root", "structure_id").withColumn("round", F.lit(0))

    for rnd in range(1, iterations + 1):
        cand = (
            frontier.crossJoin(F.broadcast(transitions))
            .withColumn(
                "__key",
                F.round((F.col(mass_col) + F.col(delta_col)) * scale, 0).cast("long"),
            )
            .join(known, "__key")
        )
        new = (
            cand.select("root", F.col("__product_id").alias("structure_id"),
                        F.col("__product_mm").alias(mass_col))
            .dropDuplicates(["root", "structure_id"])
            .join(reached, ["root", "structure_id"], "left_anti")
        )
        if not unroll:
            new = materialize(new, eager=True)
            if new.isEmpty():
                break
        out = out.unionByName(new.select("root", "structure_id").withColumn("round", F.lit(rnd)))
        # no checkpoint here: `reached` is a shallow union over the
        # already-checkpointed per-round `new` sets (lineage depth stays
        # O(rounds), each leg materialized), so a third job per round
        # bought nothing
        reached = reached.unionByName(new.select("root", "structure_id"))
        frontier = new
    return out
