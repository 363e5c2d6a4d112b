"""K1: 1→N reaction application (SURVEY §2 K1, reference
``integrative_omics/gizmos.py:193-234`` generate_virtual_molecule /
``queryMassNPDB`` rule application).

The reference applies every retro-rule to every substrate molecule with
RDKit ``RunReactants`` inside a process pool, assigning random ``VM_``
ids to novel products.  Spark restatement:

- the 1→N fan-out is ``substrates × broadcast(rules)`` — never a
  shuffle; products keep their (substrate, rule) lineage columns,
- product identity is a CONTENT hash (sha2 of the product string) — the
  F5 determinism fix for the reference's random ids: re-running the
  pipeline, or running it on two clusters, yields identical ids,
- the default transformation kernel is JVM-side ``regexp_replace``
  (scan-speed, whole-stage codegen — the right kernel for STRING rules
  like the K1 document-rewrite query); a chemistry kernel drops in
  through ``kernel=`` as an Arrow-batched ``mapInPandas`` over exactly
  the same columns — the dataflow, lineage and id assignment do not
  change, and a kernel may emit MULTIPLE rows per input (1→N per
  embedding).  For structure-shaped substrates the pure-Python
  SMARTS-subset engine in ``smarts_engine.structural_reaction_kernel``
  (parse → embed → atom-map rewrite) is the semantically real kernel and
  is what ``plan_reaction_mass`` runs; an RDKit ``RunReactants`` kernel
  would slot into the same signature when the library is available.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: kernel signature: batches of (substrate_id, substrate, rule_id,
#: pattern, replacement) → same frame plus a ``product`` column (null or
#: unchanged → dropped downstream)
ReactionKernel = Callable[[pd.DataFrame], pd.DataFrame]


def apply_reactions(
    substrates: DataFrame,
    rules: DataFrame,
    id_col: str = "substrate_id",
    substrate_col: str = "substrate",
    kernel: ReactionKernel | None = None,
) -> DataFrame:
    """Apply every rule to every substrate; keep transformed products.

    ``rules``: (rule_id, pattern, replacement) — broadcast (rule tables
    are small by construction).  Returns (substrate_id, rule_id, product,
    product_id) with sha2-content product ids.
    """
    crossed = substrates.select(
        F.col(id_col).alias("substrate_id"), F.col(substrate_col).alias("substrate")
    ).crossJoin(F.broadcast(rules.select("rule_id", "pattern", "replacement")))
    if kernel is None:
        reacted = crossed.withColumn(
            "product", F.expr("regexp_replace(substrate, pattern, replacement)")
        )
    else:
        schema = (
            "substrate_id long, substrate string, rule_id string, "
            "pattern string, replacement string, product string"
        )

        def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in batches:
                yield kernel(pdf)[
                    [
                        "substrate_id", "substrate", "rule_id",
                        "pattern", "replacement", "product",
                    ]
                ]

        reacted = crossed.mapInPandas(run, schema=schema)
    return (
        reacted.where(
            F.col("product").isNotNull() & (F.col("product") != F.col("substrate"))
        )
        .select(
            "substrate_id",
            "rule_id",
            "product",
            F.concat(
                F.lit("VM_"), F.substring(F.sha2(F.col("product"), 256), 1, 16)
            ).alias("product_id"),
        )
    )
