"""The benchmark's workloads: which registered queries a pass runs, and on
which generated inputs.

Two workloads, each picked to stress different layers; every layer the
benchmark reports is exercised by at least one of them:

* ``meantools``: the MEANtools annotation plans plus one R method-package
  operator.  Time goes to driver-side plan building and job count
  (``plans``), the ``mapInPandas`` Python kernels (``arrow``) and
  JVM aggregates (``analytics``).  Nothing is written.
* ``curation_x4``: four perturbed copies of 300 ``documents``.  About
  a third of a warm pass is the n-gram Jaccard dedup (``operators``),
  which grows with the document count: its shingle and posting job runs
  while the plan is built, its pair expansion in the ``noop`` write.  The
  rest is two bucketed snapshot commits (``sources``/``streaming``), run
  inside the ``doc_forget`` builder and mostly a fixed cost per commit at
  this size, so writes sit beside reads.  No Python kernel runs.
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class Workload:
    name: str
    queries: tuple[str, ...]
    # base scale factor (lineitem ~ 6M x sf rows) before the 0.9 sample
    sf: float
    # (base documents, copies): ``documents`` becomes ``copies`` perturbed
    # copies of its first ``base`` rows
    doc_copies: tuple[int, int] | None = None


WORKLOADS: dict[str, Workload] = {
    w.name: w
    for w in (
        Workload(
            name="meantools",
            # mass annotation (plans + chem functions), graph rewrite
            # (mapInPandas), permutation FDR (analytics)
            queries=("plan_mass_annotation", "k1_graph_rewrite", "k12_perm_fdr"),
            sf=0.01,
        ),
        Workload(
            name="curation_x4",
            # n-gram Jaccard dedup (operators, grows with volume), CDC
            # forget through a bucketed snapshot (streaming commits)
            queries=("dedup_ngram_jaccard", "doc_forget"),
            sf=0.001,
            doc_copies=(300, 4),
        ),
    )
}
