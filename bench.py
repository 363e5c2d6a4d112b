"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints one
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec, ...}, "sf": ...}.

Each query runs $SPARK_GRAFT_BENCH_REPS times (default 3) and reports the
MEDIAN, so one GC pause or JIT warm-up can't masquerade as a regression.
Sub-0.5s queries (decided from the untimed warm-up run) get 5 reps —
they carry the worst relative noise — and every query also reports its
MIN under "mins": on a loaded machine the median inflates uniformly but
the min stays close to the true cost, so min-vs-min separates machine
load from real plan regressions (the r7 driver-box noise incident).
If a previous round's BENCH_r*.json exists next to this file, a per-query
delta (median / previous) is reported under "deltas" and anything over
1.3x is listed under "regressions" — the driver's contract fields
(metric/value/unit/queries/sf) are unchanged.

Output layout (r12): the FINAL stdout line carries ONLY the driver
contract fields plus compact summaries (slow_total, max_spread, loadavg
endpoints) and is budgeted under STDOUT_BYTE_BUDGET — r11's full
telemetry outgrew the driver's 2000-char tail capture and the round's
timings were lost.  The full per-query detail (mins, slow_queries,
slow_mins, spread, slow_loadavg1, deltas) goes to the stderr
diagnostics line AND to a detail-JSON sidecar next to this file.

Sidecar protection (r15, r14 verdict item 3 + ADVICE): by default the
detail JSON goes to ``bench_full_latest.json`` (gitignored scratch) —
``bench_full.json``, the COMMITTED quiet sf0.1 record that is the only
credible cross-round perf comparator on this drifting host, is written
ONLY when ``--sidecar`` is passed (and only at sf0.1; other SFs write
``bench_full_sf{sf}.json`` as before).  It got clobbered twice in r14
by stray runs, including ``python bench.py --help`` launching a full
10-minute run.  The sidecar also records ``sidecar_round`` (the round
it was recorded DURING = newest BENCH_r{N} on disk + 1); the delta
reader only lets a sidecar displace BENCH_r{N} timings when that
marker matches the round being benched, and says so on stderr.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import re
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

# headline set: the flagship plan, the signature band join, the correlation
# engine, the heaviest document/dedup ops, and a star join
HEADLINE = [
    "plan_mass_annotation",
    "plan_pathway_expand",
    "plan_corr_multiomics",
    "j4_band_join",
    "j6_transition_match",
    "j1_star_join",
    "j12_event_join",
    "a3_pricing_summary",
    "k6_pairwise_corr",
    "k6_spearman",
    "w1_mutual_rank",
    "p6_mad_filter",
    "p8_outlier_matrix",
    "dedup_minhash_signatures",
    "dedup_lsh_pairs",
    "dedup_ngram_jaccard",
    "sim_ann_topk",
    "sim_cosine_neardup",
    "text_quality",
    "events_tumbling",
    # round-3 kernels (cheap enough for the 3-rep budget; the heavier
    # iterative ones — methylmix_em ~10s, k10_pca_batch ~10s — stay out
    # to keep the driver's per-round bench bounded)
    "k2_mass",
    "k13_roc",
    "k12_perm_fdr",
    "k4_rule_bfs",
]

# slow tier: queries that need timing signal but must not perturb the
# headline total (heavy iterative kernels, plus queries added to the
# bench after round 4 — keeping the headline set fixed keeps the
# driver's "value" comparable across rounds) — one timed rep each,
# reported under "slow_queries".  Disable: SPARK_GRAFT_BENCH_SLOW=0
SLOW_TIER = [
    "methylmix_em",
    "k10_pca_batch",
    # round 6: the Python graph-matcher kernel and the two window shapes
    # broken in r5 — timed so a regression in any is visible per-round
    "k3_substructure",
    "events_sessions",
    "events_hopping",
    # round 6: the curation-pipeline flagship composite
    "plan_data_pipeline",
    # round 7: the K1 graph-writer rewrite (memoized Python kernel)
    "k1_graph_rewrite",
    # late round 7: SemDeDup digest (exact single-list operating point),
    # sequence packing, stream-stream interval join (batch form)
    "sim_semantic_dedup_digest",
    "doc_pack_chunks",
    "events_interval_join",
    # round 8: bucketed SemDeDup (IVF operating point) and the
    # left-outer interval join
    "sim_semantic_dedup_bucketed_digest",
    "events_interval_join_outer",
    # round 9: the composed enzyme-annotation lifecycle (§3, last slice)
    "plan_enzyme_annotation",
    # round 10: exact-substring dedup — the span-merge (spans) and the
    # full cut action (remove, the heaviest: rank windows + indexed
    # array filter) bracket the new family's cost
    "dedup_substring_spans",
    "dedup_substring_remove",
    # late round 10: incremental dedup (new batch vs reference corpus —
    # digest + band-key semi-joins over the 70/30 documents split)
    "dedup_incremental",
    # late round 10: deterministic domain-mixture sampling (window rank
    # + broadcast quota map) and greedy k-center diversity sampling
    # (IVF assignment + per-cluster farthest-point applyInPandas)
    "mix_domains",
    "sim_diversity_digest",
    # round 11: the persisted-index probe path (index build + probe per
    # rep — measures the end-to-end generation cost, not just the
    # probe), corpus-first gram novelty, and exact length quantiles
    "dedup_incremental_indexed",
    "doc_novelty",
    "text_length_quantiles",
    # late round 11: duplicate-cluster canonicalization (components +
    # argmax), cross-source gram overlap, the as-of join, and the
    # multi-resolution rollup
    "dedup_keep_best",
    "source_overlap",
    "events_asof_join",
    "events_rollup",
    "sim_centroid_drift",
    "text_top_ngrams",
    "doc_weighted_sample",
    "dedup_minhash_accuracy",
    "doc_upsert",
    "events_histogram",
    # round 12: the steady-state index PROBE (bench-only callable — the
    # untimed warm-up builds+memoizes the index, timed reps only probe;
    # compare against dedup_incremental's scan cost, NOT against
    # dedup_incremental_indexed, which deliberately re-times the build),
    # and the curation-stream batch twin
    "dedup_index_probe",
    "pipeline_curate",
    # round 12: the two-phase exact Misra-Gries top-k (sketch + recount
    # + certificate; compare against text_top_ngrams = the one-shuffle
    # brute-force answer to the same oracle), and the generic long-key
    # form (hot-user detection over events)
    "text_heavy_hitters",
    "events_hot_users",
    # round 13: the weighted Misra-Gries form (keys by integral mass),
    # the detect→route skew join (sketch detection + salted/plain
    # routing vs the plain join it must equal), and the near-dup-aware
    # split (components + md5 split — compare against dedup_components,
    # whose CTE chain it extends by one projection)
    "events_hot_users_bytes",
    "events_salted_join",
    "doc_split_leakage_safe",
    # late round 13: per-test contamination attribution (compare against
    # text_decontaminate - same gram machinery, transposed accounting)
    "text_contamination_report",
    # late round 13: the one-pass exact table profiler (Expand-based
    # multi-distinct — the approx/HLL mode is the 100 TB path and is
    # plan-locked Expand-free) and the layout round-trip (partitioned+
    # clustered WRITE per rep plus the pruned scan — write-heavy by
    # design; the pruning benefit itself is measured in
    # SCALE.md r13's layout probe, wall here just guards regressions)
    "doc_profile",
    "doc_pruned_scan",
    # late round 13: numeric-moments profiler (exact-percentile form —
    # the GK approx mode is the scale path, property-tested) and the
    # windowed drift-profile batch twin
    "events_profile_numeric",
    "events_windowed_profile",
    # late round 13: per-source dataset card (exact distincts — Expand
    # by design at report scale; approx HLL form is the scale path) and
    # the persisted ANN index lifecycle (build + probe per rep, the
    # dedup_incremental_indexed analog for similarity serving)
    "doc_dataset_card",
    "sim_index_topk",
    # bench-only steady-state ANN probe (memoized index; the untimed
    # warm-up builds, timed reps only probe — compare against
    # sim_index_topk = build+probe, the dedup_index_probe pattern)
    "sim_index_probe",
    # r14: the CDC right-to-be-forgotten round-trip (bucketed snapshot
    # seed + tombstone/re-ingest commit + read-back per rep — commit
    # machinery wall, the doc_upsert analog for deletes)
    "doc_forget",
    # r15 (r14 verdict item 4): sim_index_recall now RIDES the index
    # generation sim_index_topk just built (the shared per-(pid,sf)
    # memo in registry_docs) instead of re-paying the ~14s k-means
    # build, so timing it costs only its 5 exact/approx probe passes —
    # the certificate's steady-state cost enters the tier without
    # undoing the r13-item-6 build trim.  MUST stay listed after
    # sim_index_topk (standalone it would build its own index and time
    # build+probes).
    "sim_index_recall",
    # r16: the schema-evolution round-trip (4 bucketed commits + the
    # evolve maintenance rewrite + 2 inline pin-refusal proofs per rep
    # — the commit-machinery wall for the maintenance path, the
    # doc_forget analog for evolution; bytes-level scale evidence
    # lives in SCALE.md r16's evolve probe)
    "doc_snapshot_evolve",
]

# bench-only callables: timed like registered queries but deliberately
# NOT in the driver registry (the rotation-pool budget rule) — see each
# function's docstring for why it exists as a bench entry
def _extra_bench() -> dict:
    from omics_data_integration_utilities_spark.plans.registry_docs import (
        q_dedup_index_probe,
        q_sim_index_probe,
    )

    return {
        "dedup_index_probe": q_dedup_index_probe,
        "sim_index_probe": q_sim_index_probe,
    }

REGRESSION_FLAG = 1.3

# r14 (r13 verdict item 5): a fixed-cost, data-independent, pure-JVM
# calibration job timed each run.  This host measurably degrades
# round-over-round (r13: three bench-flagged "regressions" were all on
# code untouched since r12, uniformly 1.2-1.7x inflated including
# trivial groupBys), so round-over-round deltas are computed on
# CALIBRATION-NORMALIZED times — (med/cal) / (prev_med/prev_cal) —
# whenever the previous round recorded a calibration; ambient machine
# drift cancels, plan regressions survive.  Raw deltas are still
# recorded under "deltas_raw" for continuity.
CALIBRATION_ROWS = 20_000_000
CALIBRATION_REPS = 5


def _calibration(spark, warmups: int = 2) -> float:
    """Median wall of the fixed calibration job: hash + 97-group shuffle
    over a generated range — exercises codegen, scheduler and shuffle
    fixed costs with ZERO data dependence, so its round-over-round drift
    is pure machine state.

    Measured stability (r14): the job settles from ~0.62s to ~0.40±0.03s
    as the JVM JIT warms, then holds — so the harness measures it TWICE
    (session start with extra warm-ups, session end when everything is
    hot) and normalizes by the MIN of the two medians, the same
    load-robust statistic the per-query "mins" use."""
    import statistics as _st
    import time as _t

    def run() -> float:
        t0 = _t.perf_counter()
        (
            spark.range(0, CALIBRATION_ROWS, 1, 32)
            .selectExpr("pmod(xxhash64(id), 97) as b", "id")
            .groupBy("b")
            .agg({"id": "sum"})
            .count()
        )
        return _t.perf_counter() - t0

    for _ in range(max(1, warmups)):
        run()  # untimed warm-up (JIT/codegen)
    return round(_st.median(run() for _ in range(CALIBRATION_REPS)), 3)


def _normalized_delta(
    med: float, prev_med: float, cal: "float | None", prev_cal: "float | None"
) -> "tuple[float, float]":
    """(normalized, raw) round-over-round delta: ambient host drift
    cancels through the calibration ratio when both rounds recorded
    one; otherwise normalized == raw."""
    d_raw = med / prev_med
    d_norm = d_raw * (prev_cal / cal) if (prev_cal and cal) else d_raw
    return d_norm, d_raw


# r14 (r13 verdict item 6): slow-tier entries whose per-rep wall is BY
# DESIGN dominated by a fresh index BUILD (the lifecycle number).  A
# warm-up + 2 reps re-pays that build 3x for no extra signal — there is
# nothing query-specific for the warm-up to warm (each rep builds a
# fresh generation; the probe machinery is already warmed by the rest
# of the tier) and the steady-state probe cost is tracked separately by
# the memoized *_probe bench entries.  These run exactly ONE timed rep.
SLOW_LIFECYCLE_ONE_REP = {"sim_index_topk"}

# per-query rep overrides: p6's exact-median two-pass is correct but its
# wall time swings ~3x with machine load (r5 1.19s / judge r6 3.56s —
# same code, same data), so its median draws from 5 reps to keep
# round-over-round deltas interpretable.  plan_mass_annotation is the
# flagship and moved 1.49→2.15s min r8→r9 on untouched code (r9 verdict
# watch item): 5 reps so its min is drawn from a deeper sample and a
# single lucky/unlucky rep can't swing the round-over-round read.
REPS_OVERRIDE = {"p6_mad_filter": 5, "plan_mass_annotation": 5}

# sub-0.5s queries carry the worst RELATIVE noise (a 0.1s scheduler
# hiccup is a 1.5x "regression" on a 0.2s query); bump them to 5 reps
FAST_QUERY_CUTOFF_S = 0.5
FAST_QUERY_REPS = 5

# r9 (VERDICT r8 item 8): the whole slow tier now runs one untimed
# warm-up + two timed reps — its former 1-rep numbers caused the r8
# plan_data_pipeline cold-vs-steady ambiguity.  "slow_queries" carries
# the FIRST timed (warm) rep for continuity with prior rounds'
# steady-state readings; "slow_mins" carries the min of the two, the
# same load-robust signal the headline tier's "mins" provides.
SLOW_TIMED_REPS = 2

# Methodology note carried in the JSON: round 3 added the untimed
# warm-up execution per query (whole-stage-codegen compile cost excluded
# from medians).  Deltas against BENCH_r01/r02 therefore conflate plan
# wins with that harness change; r3 is the first apples-to-apples
# baseline for the warm-up+median protocol.
METHODOLOGY = (
    "warmup+median since r3; slow tier warmup+2reps with slow_mins since r9 "
    "(pre-r9 slow numbers were 1 cold rep); deltas vs pre-r3 rounds are not "
    "comparable; the slow-tier deltas IN THE R9 JSON compared r9 warm reps "
    "to r8 cold reps and overstate speedups by the cold/warm gap — r10 "
    "onward is warm-vs-warm and comparable again; since r14 'deltas' are "
    "CALIBRATION-NORMALIZED ((med/cal)/(prev_med/prev_cal)) when the "
    "previous round recorded calibration_s — raw ratios live in "
    "deltas_raw; the r14 deltas themselves are raw (r13 had no "
    "calibration); calibration_s = min(session-start, session-end "
    "medians) — the JIT-warm floor; the sf-matched quiet sidecar "
    "overrides BENCH_rN as the delta comparator so prev timings and "
    "prev_cal come from the same run (since r15 only when its "
    "sidecar_round marker matches — a stray run cannot displace the "
    "comparator); build-lifecycle slow entries (SLOW_LIFECYCLE_ONE_REP) "
    "run 1 timed rep since r14 — same quantity (fresh build per rep), "
    "2 fewer redundant builds; since r15 the 16-list IVF index builds "
    "ONCE per session (sim_index_topk's timed cold rep, the lifecycle "
    "number) and is SHARED with sim_index_recall + sim_index_probe "
    "(r14 verdict item 4 — the deterministic build makes reuse "
    "result-identical)"
)

# per-query WORKLOAD changes this round: a grown fixture is more work,
# not a regression — carried in the JSON so round-over-round deltas on
# these queries are read against the new workload.  Deliberate PLAN
# changes ride here too (same read: the delta is expected).
WORKLOAD_CHANGES = {
    "dedup_ngram_jaccard": "2026-10-20 plan change: one lazy plan (no "
    "localCheckpoint, no size-table count at build); the two size "
    "joins are LEFT joins with the pair-scale `inter` on the left, so "
    "no planner can broadcast it (the r12 1 GiB driver collect at 16x "
    "duplication — SCALE.md r12); the doc-scale size table is "
    "broadcast under AQE's measured threshold, else sort-merge joined "
    "(SCALE.md 'n-gram Jaccard pairs as one lazy plan')",
    "dedup_minhash_accuracy": "2026-10-20 plan change: no doc count "
    "at build; the two signature joins are LEFT joins with the pair "
    "stream on the left, so only the doc-scale signatures can be "
    "broadcast (under AQE's measured threshold, else sort-merge "
    "joined); the est-exact join keeps its merge hint, and the exact "
    "side is the lazy ngram_jaccard_pairs plan (SCALE.md 'join safety "
    "by plan shape')",
    "dedup_keep_best": "2026-10-20 plan change inherited: composes "
    "ngram_jaccard_pairs, so its lazy LEFT-join plan rides along (r12 "
    "measured quiet-machine min 4.81s r11 -> 6.0s r12 at sf0.1 for "
    "the former shuffle_hash plan)",
    "k3_substructure": "39 -> 68 probes (late-r10 extended chirality "
    "classes [C@TH1H3]Cl/[C@OH1]/[c@SP3] and expression-qualified "
    "ring closures c~1ccccc1 / C~1CCCC1 / c-1ccccc:1; earlier r10: "
    "ring-count [R1]/[R2]/"
    "[C;R0]/[c;R1] brackets, depth-3 recursive wraps, stereo "
    "parse-and-ignore probes [C@H3]/[C@@H3]Cl/dirbond, ring-bond "
    "query probes C@Cl/c@c/[CH3]!@Cl, any-bond c~c, OR-list "
    "[CH3]-,=Cl, and six full bond-expression probes (c-;@c, "
    "c-,=;@c, [CH3]-&!@Cl, [CH3]!-,!=Cl, [!#1]!=[N&X3:2], C=;!@O); "
    "r9 added per-alternative-modifier, list-conjunct, depth-2 "
    "recursive, negated-item families)",
    "k1_graph_rewrite": "8 -> 16 rules (r10 ring-count-conjunct "
    "[C;R0:1], depth-3 recursive [$([$([$(C)]O)]):1], stereo-marked "
    "[C@:1]O >> [C@@:1]N, ring-bond-query [C:1]!@O, any-bond "
    "[C:1]~O, OR-list [C:1]-,=O, bond-expression [C:1]-&!@O and "
    "negated-OR [C:1]!=,!#O rules; r9 "
    "added per-alternative-modifier + negated-item)",
    "sim_index_topk": "r14 PROTOCOL change (r14 ADVICE): one timed COLD "
    "rep with no warm-up since r14 (SLOW_LIFECYCLE_ONE_REP) — the r13->"
    "r14 delta compared cold-vs-warm and overstated by the codegen-"
    "compile gap, a one-time artifact; r15 onward is cold-vs-cold and "
    "comparable",
    "sim_index_recall": "ENTERS the slow tier in r15 riding the shared "
    "index build (r14 verdict item 4): its wall is ~5 probe passes, "
    "not build+probes — no pre-r15 comparator exists",
}


def _loadavg() -> list[float]:
    """1/5/15-minute load averages — the r10 verdict's load-vs-regression
    discriminator: three slow-tier queries moved >3x on untouched code
    and the only evidence either way was narrative.  Captured at bench
    start/end (and per slow-tier query, where 1-2 reps give the weakest
    spread signal) so the round's JSON carries the machine state the
    numbers were taken under."""
    try:
        with open("/proc/loadavg") as f:
            return [round(float(x), 2) for x in f.read().split()[:3]]
    except Exception:
        return []


def _spread(times: list[float]) -> float:
    """max/min over the timed reps: ~1.0 = quiet machine, >1.5 = the
    reps themselves disagree, so a round-over-round delta on this query
    is load noise until a dedicated multi-rep probe says otherwise."""
    lo = min(times)
    return round(max(times) / lo, 2) if lo > 0 else 0.0


def _previous_round_timings(here: str, sf: str) -> "tuple[dict[str, float], float | None]":
    """Previous timings for the round-over-round delta read: the latest
    BENCH_r{N}.json (driver-recorded stdout; headline queries — and
    slow_queries too for rounds ≤ r11, when they still rode stdout)
    merged with bench_full.json (the full-detail sidecar this harness
    writes since r12, which carries the slow tier now that stdout
    doesn't).  The sidecar is only trusted when its recorded sf matches
    the current run — a local sf0.01 iteration must not become the
    comparator for the driver's sf0.1 round."""
    out: dict[str, float] = {}
    prev_cal: "float | None" = None
    rounds: list[tuple[int, str]] = []
    for path in glob.glob(os.path.join(here, "BENCH_r*.json")):
        m = re.search(r"BENCH_r(\d+)\.json$", path)
        if m:
            rounds.append((int(m.group(1)), path))
    # newest round WITH data: a tail-capture loss leaves parsed:null (r11),
    # which must not blank the delta read — fall back to the next round
    for _, path in sorted(rounds, reverse=True):
        try:
            with open(path) as f:
                data = json.load(f)
            # the driver wraps the bench line under "parsed"
            if "queries" not in data and isinstance(data.get("parsed"), dict):
                data = data["parsed"] or {}
            q = {k: float(v) for k, v in (data.get("queries") or {}).items()}
            if not q:
                continue
            out.update(q)
            out.update(
                {k: float(v) for k, v in (data.get("slow_queries") or {}).items()}
            )
            if data.get("calibration_s"):
                prev_cal = float(data["calibration_s"])
            break
        except Exception:
            continue
    try:
        with open(os.path.join(here, "bench_full.json")) as f:
            full = json.load(f)
        latest_round = max((n for n, _ in rounds), default=0)
        marker = full.get("sidecar_round")
        # r15 (r14 ADVICE): the sidecar only displaces BENCH_rN values
        # when its recorded round marker says it IS the expected
        # comparator — the quiet record of the round currently on disk
        # (marker == latest BENCH round, the normal cadence: the quiet
        # run happens while that round is in flight) or one newer (a
        # post-round quiet re-run).  A stray/ancient sidecar no longer
        # silently replaces the round-over-round comparator.
        marker_ok = marker is not None and int(marker) in (
            latest_round, latest_round + 1
        )
        if str(full.get("sf")) == str(float(sf)) and marker_ok:
            # the sf-matched sidecar (the builder's quiet run) OVERRIDES
            # the driver's BENCH_rN capture: normalization requires
            # prev_cal and prev timings to come from the SAME run, and
            # quiet-vs-quiet is the comparison worth making — BENCH_rN
            # values only fill queries the sidecar lacks
            print(
                f"# comparator: bench_full.json (sidecar_round={marker}) "
                f"overrides BENCH_r{latest_round} values",
                file=sys.stderr,
            )
            for section in ("queries", "slow_queries"):
                for k, v in (full.get(section) or {}).items():
                    out[k] = float(v)
            # the sidecar's calibration (or None): once its timings win,
            # a BENCH_rN calibration from a DIFFERENT run must not pair
            # with them — no calibration beats a mismatched one
            prev_cal = (
                float(full["calibration_s"])
                if full.get("calibration_s")
                else None
            )
        elif str(full.get("sf")) == str(float(sf)):
            print(
                f"# comparator: bench_full.json IGNORED (sidecar_round="
                f"{marker!r}, expected {latest_round} or "
                f"{latest_round + 1}) — deltas use BENCH_r{latest_round}",
                file=sys.stderr,
            )
    except Exception:
        pass
    return out, prev_cal


# hard byte budget for the FINAL stdout line: the driver's tail capture
# is 2000 chars and anything past it is sliced off (r4 and r11 both lost
# their round's timings to this).  tests/test_ledger.py asserts the
# worst-case payload stays under budget as the tiers grow.
STDOUT_BYTE_BUDGET = 1800


def _stdout_payload(
    total: float,
    timings: dict[str, float],
    sf: str,
    reps: int,
    slow_timings: dict[str, float],
    load_start: list[float],
    load_end: list[float],
    spreads: dict[str, float],
    slow_load: dict[str, float],
    errors: dict[str, str],
    calibration_s: "float | None" = None,
    prev_calibration_s: "float | None" = None,
) -> dict:
    """The driver-contract stdout line: metric/value/unit/queries/sf plus
    COMPACT summaries only.  Per-query mins/spreads/slow timings live in
    bench_full.json + the stderr diagnostics — r11 lost its round's
    timings when the full telemetry outgrew the driver's 2000-char tail
    capture, so everything per-query beyond the fixed headline set stays
    OFF stdout by construction."""
    # r17 (verdict item 9): the r16 round-over-round read compared a
    # loaded 32-core run (cal 0.479) against a quiet baseline and
    # manufactured 13 phantom regressions.  When this run's calibration
    # differs >25% from the comparator's, say so ON the contract line so
    # PERF can discount raw deltas — additive field, contract unchanged.
    mismatch = bool(
        calibration_s
        and prev_calibration_s
        and not (0.8 <= calibration_s / prev_calibration_s <= 1.25)
    )
    return {
        "metric": "headline_queries_total",
        "value": round(total, 3),
        "unit": "sec",
        "queries": timings,
        "sf": float(sf),
        "reps": reps,
        "slow_total": round(sum(slow_timings.values()), 3),
        "slow_count": len(slow_timings),
        # load telemetry summaries: 1-min loadavg at start/end and the
        # worst per-query rep spread + worst post-slow-query load — the
        # judge's quiet-machine discriminator, compressed to 4 numbers
        "loadavg1_start": load_start[0] if load_start else None,
        "loadavg1_end": load_end[0] if load_end else None,
        "max_spread": max(spreads.values(), default=None),
        "slow_loadavg1_max": max(slow_load.values(), default=None),
        # the fixed-cost pure-JVM calibration median: divide any query
        # time by this to compare across rounds on a drifting host
        "calibration_s": calibration_s,
        # this run vs the comparator run were NOT load-matched (>25%
        # calibration gap) — raw round-over-round deltas are suspect;
        # use calibration-normalized deltas (bench_full.json "deltas")
        "calibration_mismatch": mismatch,
        "errors": errors,
        # an erroring headline query silently SHRINKS the total, which
        # would read as a speedup round-over-round; this flag marks the
        # total incomparable whenever that happened
        "headline_incomplete": sorted(n for n in HEADLINE if n in errors),
        "detail": "bench_full.json",
    }


def _final_stdout_line(
    total, timings, sf, reps, slow_timings,
    load_start, load_end, spreads, slow_load, errors,
    calibration_s=None,
    prev_calibration_s=None,
) -> str:
    """The ONE stdout line, with the byte-budget degradation chain in a
    testable unit (tests/test_bench_contract.py locks the invariant):
    drop error detail first (keep the names), then as a last resort emit
    the contract-only form — so the driver's 2000-char tail capture can
    never truncate the JSON mid-line no matter how the tiers grow."""
    line = json.dumps(
        _stdout_payload(
            total, timings, sf, reps, slow_timings,
            load_start, load_end, spreads, slow_load, errors,
            calibration_s=calibration_s,
            prev_calibration_s=prev_calibration_s,
        )
    )
    if len(line) > STDOUT_BYTE_BUDGET:
        print(f"# stdout line {len(line)}B over budget, degrading", file=sys.stderr)
        payload = _stdout_payload(
            total, timings, sf, reps, slow_timings,
            load_start, load_end, spreads, slow_load,
            {k: "" for k in errors},
            calibration_s=calibration_s,
            prev_calibration_s=prev_calibration_s,
        )
        line = json.dumps(payload)
        if len(line) > STDOUT_BYTE_BUDGET:
            line = json.dumps(
                {
                    "metric": "headline_queries_total",
                    "value": round(total, 3),
                    "unit": "sec",
                    "queries": timings,
                    "sf": float(sf),
                    "headline_incomplete": sorted(n for n in HEADLINE if n in errors),
                }
            )
    return line


def _parse_args(argv: "list[str] | None" = None) -> argparse.Namespace:
    """CLI (r14 verdict item 3): ``--help`` must be instant and a
    default run must be unable to touch ``bench_full.json`` — in r14 a
    stray ``python bench.py --help`` launched a full 10-minute sf0.1
    run and the driver's load-poisoned run clobbered the committed
    quiet sidecar.  Env vars stay as defaults so the driver's bare
    ``python bench.py`` invocation keeps working unchanged."""
    p = argparse.ArgumentParser(
        description="Run the headline+slow query tiers and print the "
        "one-line driver-contract JSON on stdout (full detail on stderr "
        "+ a detail-JSON file).",
    )
    p.add_argument(
        "--sf-dir",
        default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"),
        help="testdata dir (default $SPARK_GRAFT_SF_DIR or /root/testdata/sf0.1)",
    )
    p.add_argument(
        "--reps",
        type=int,
        default=int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3")),
        help="timed reps per headline query (default $SPARK_GRAFT_BENCH_REPS or 3)",
    )
    p.add_argument(
        "--slow",
        dest="slow",
        action="store_true",
        default=os.environ.get("SPARK_GRAFT_BENCH_SLOW", "1") != "0",
        help="run the slow tier (default on; $SPARK_GRAFT_BENCH_SLOW=0 or --no-slow disables)",
    )
    p.add_argument("--no-slow", dest="slow", action="store_false")
    p.add_argument(
        "--out",
        default=None,
        help="detail-JSON path; used for every run EXCEPT an sf0.1 "
        "--sidecar run (which always writes bench_full.json). Defaults: "
        "bench_full_latest.json at sf0.1, bench_full_sf{sf}.json "
        "otherwise",
    )
    p.add_argument(
        "--sidecar",
        action="store_true",
        help="at sf0.1, write the COMMITTED quiet record "
        "bench_full.json — pass ONLY for a deliberate quiet-machine "
        "run intended as the round's cross-round comparator; at any "
        "other SF the flag has no effect (default routing applies)",
    )
    return p.parse_args(argv)


def _detail_json_name(sidecar_flag: bool, out: "str | None", sf: str) -> str:
    """Where the full-detail JSON goes — the protection invariant
    (locked by tests/test_bench_contract.py): only an explicit
    ``--sidecar`` at sf0.1 may name ``bench_full.json``; every other
    combination writes scratch."""
    if sidecar_flag and sf == "0.1":
        return "bench_full.json"
    if out:
        return out
    if sf != "0.1":
        return f"bench_full_sf{sf}.json"
    return "bench_full_latest.json"


def main() -> None:
    args = _parse_args()
    here = os.path.dirname(os.path.abspath(__file__))
    sf_dir = args.sf_dir
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    reps = max(1, int(args.reps))

    # heavy imports AFTER arg parsing so --help never touches Spark
    from omics_data_integration_utilities_spark.session import get_spark
    from omics_data_integration_utilities_spark.sources.readers import read_parquet_table
    import __spark_entry__ as entrymod

    spark = get_spark("omics-spark-bench")

    queries = dict(entrymod.queries())
    queries.update(_extra_bench())
    # warm up the session: JVM, AQE machinery, parquet reader paths; the
    # table reader caches each file's schema, so no timed read infers one
    spark.range(1000).count()
    for t in ("supplier", "part", "lineitem", "orders", "documents", "embeddings", "events"):
        read_parquet_table(spark, f"{sf_dir}/{t}.parquet").limit(1).count()
    # warm the Arrow / python-worker path (mapInPandas machinery)
    spark.range(100).mapInPandas(
        lambda it: (pdf.assign(x=pdf.id) for pdf in it), schema="id long, x long"
    ).count()

    prev, prev_cal = _previous_round_timings(here, sf)
    cal_start = _calibration(spark, warmups=2)
    print(
        f"# calibration (session start): {cal_start:.3f}s (prev "
        f"{prev_cal}) — re-measured at session end; deltas normalize by "
        f"the min of the two when prev exists",
        file=sys.stderr,
    )
    load_start = _loadavg()
    timings: dict[str, float] = {}
    mins: dict[str, float] = {}
    spreads: dict[str, float] = {}
    deltas: dict[str, float] = {}
    deltas_raw: dict[str, float] = {}
    regressions: dict[str, float] = {}
    errors: dict[str, str] = {}
    total = 0.0
    for name in HEADLINE:
        # per-query fault isolation: one broken query must cost ONE row in
        # "errors", never the whole round's perf signal (r5 lost its entire
        # bench to a single analysis error)
        try:
            fn = queries[name]
            times = []
            # one untimed warm-up execution: whole-stage-codegen compilation
            # of a query's expression chain lands on its first run (observed
            # 5.8s → 1.2s steady state on dedup_lsh_pairs) and would
            # otherwise masquerade as a regression in a 3-rep median.
            # Its wall time (compile-inflated, so an overestimate — never
            # misclassifies a slow query as fast) picks the rep count.
            t0 = time.perf_counter()
            rows = fn(spark, sf_dir).count()
            warm = time.perf_counter() - t0
            q_reps = max(
                reps,
                REPS_OVERRIDE.get(name, 0),
                FAST_QUERY_REPS if warm < FAST_QUERY_CUTOFF_S else 0,
            )
            for _ in range(q_reps):
                t0 = time.perf_counter()
                rows = fn(spark, sf_dir).count()
                times.append(time.perf_counter() - t0)
        except Exception as exc:  # noqa: BLE001 — report, keep benching
            msg = f"{type(exc).__name__}: {exc}"
            errors[name] = msg[:300]
            print(f"# {name}: ERROR {msg[:300]}", file=sys.stderr)
            continue
        med = statistics.median(times)
        timings[name] = round(med, 3)
        mins[name] = round(min(times), 3)
        spreads[name] = _spread(times)
        total += med
        line = f"# {name}: median {med:.3f}s min {min(times):.3f}s over {len(times)} reps {[round(t, 3) for t in times]} rows={rows}"
        if name in prev and prev[name] > 0:
            d_raw = med / prev[name]
            deltas_raw[name] = round(d_raw, 3)
            # normalized deltas + regression flags are computed AFTER the
            # end-of-session calibration (see below)
            line += f" delta_raw={d_raw:.2f}x"
        print(line, file=sys.stderr)

    slow_timings: dict[str, float] = {}
    slow_mins: dict[str, float] = {}
    slow_load: dict[str, float] = {}
    if args.slow:
        for name in SLOW_TIER:
            try:
                fn = queries[name]
                if name in SLOW_LIFECYCLE_ONE_REP:
                    # build-dominated lifecycle entries: ONE timed rep
                    # (each rep builds a fresh index generation, so
                    # warm-up/extra reps just re-pay the build — r13
                    # verdict item 6; steady-state cost rides the
                    # memoized *_probe entry)
                    stimes = []
                    t0 = time.perf_counter()
                    rows = fn(spark, sf_dir).count()
                    stimes.append(time.perf_counter() - t0)
                else:
                    fn(spark, sf_dir).count()  # untimed warm-up (codegen compile)
                    stimes = []
                    for _ in range(SLOW_TIMED_REPS):
                        t0 = time.perf_counter()
                        rows = fn(spark, sf_dir).count()
                        stimes.append(time.perf_counter() - t0)
                t = stimes[0]
            except Exception as exc:  # noqa: BLE001
                msg = f"{type(exc).__name__}: {exc}"
                errors[name] = msg[:300]
                print(f"# [slow] {name}: ERROR {msg[:300]}", file=sys.stderr)
                continue
            slow_timings[name] = round(t, 3)
            slow_mins[name] = round(min(stimes), 3)
            spreads[name] = _spread(stimes)
            # slow-tier queries get only 1-2 reps (the weakest spread
            # signal), so also pin the 1-min load right after each one
            la = _loadavg()
            if la:
                slow_load[name] = la[0]
            protocol = (
                "single COLD rep, no warm-up — build-dominated lifecycle entry"
                if name in SLOW_LIFECYCLE_ONE_REP
                else f"warm-up + {len(stimes)} reps"
            )
            line = (
                f"# [slow] {name}: {t:.3f}s min {min(stimes):.3f}s "
                f"({protocol}, excluded from total) rows={rows}"
            )
            if name in prev and prev[name] > 0:
                d_raw = t / prev[name]
                deltas_raw[name] = round(d_raw, 3)
                line += f" delta_raw={d_raw:.2f}x"
            print(line, file=sys.stderr)

    # end-of-session calibration: the JVM is fully hot now, so this is
    # the floor reading; normalize by min(start, end) — the load-robust
    # statistic, same philosophy as the per-query mins
    cal_end = _calibration(spark, warmups=1)
    cal = min(cal_start, cal_end)
    print(
        f"# calibration: start {cal_start:.3f}s end {cal_end:.3f}s -> "
        f"using {cal:.3f}s",
        file=sys.stderr,
    )
    for name, d_raw in deltas_raw.items():
        d, _ = _normalized_delta(d_raw, 1.0, cal, prev_cal)
        deltas[name] = round(d, 3)
    regressions.update(
        {
            n: deltas[n]
            for n in timings
            if n in deltas and deltas[n] > REGRESSION_FLAG
        }
    )

    # full per-query detail: stderr diagnostics line + the bench_full.json
    # sidecar (committed per-round, so min-vs-min and slow-tier deltas
    # survive even though they no longer ride the stdout line)
    load_end = _loadavg()
    full = {
        "metric": "headline_queries_total",
        "value": round(total, 3),
        "unit": "sec",
        "queries": timings,
        "sf": float(sf),
        "reps": reps,
        "mins": mins,
        "slow_queries": slow_timings,
        "slow_mins": slow_mins,
        "loadavg": {"start": load_start, "end": load_end},
        "spread": spreads,
        "slow_loadavg1": slow_load,
        "errors": errors,
        "calibration_s": cal,
        "calibration_start_s": cal_start,
        "calibration_end_s": cal_end,
        "prev_calibration_s": prev_cal,
        "calibration_mismatch": bool(
            cal and prev_cal and not (0.8 <= cal / prev_cal <= 1.25)
        ),
        "deltas": deltas,
        "deltas_raw": deltas_raw,
        "regressions": regressions,
        "methodology": METHODOLOGY,
        "workload_changes": WORKLOAD_CHANGES,
    }
    # sidecar_round: the round this run was recorded DURING — the
    # newest BENCH_r{N} already on disk belongs to the PREVIOUS round,
    # so this run's quiet numbers are round N+1's record.  The delta
    # reader (_previous_round_timings) only lets a bench_full.json
    # displace BENCH_rN values when this marker matches (r14 ADVICE).
    bench_rounds = [
        int(m.group(1))
        for p in glob.glob(os.path.join(here, "BENCH_r*.json"))
        if (m := re.search(r"BENCH_r(\d+)\.json$", p))
    ]
    full["sidecar_round"] = max(bench_rounds, default=0) + 1
    print("# diagnostics: " + json.dumps(full), file=sys.stderr)
    # bench_full.json — the COMMITTED quiet sf0.1 record the judge and
    # the next round's deltas read — is written ONLY under --sidecar
    # (r14 verdict item 3: it was clobbered twice in r14 by stray and
    # driver runs).  Default runs write gitignored scratch files; a
    # non-sf0.1 run can never touch it regardless (that happened twice
    # in r13 — an sf0.01 verify run rode a commit over the sf0.1
    # record).
    sidecar = _detail_json_name(args.sidecar, args.out, sf)
    try:
        with open(os.path.join(here, sidecar), "w") as f:
            json.dump(full, f, indent=1)
        print(f"# detail JSON -> {sidecar}", file=sys.stderr)
    except Exception as exc:  # noqa: BLE001 — sidecar loss must not kill stdout
        print(f"# {sidecar} write failed: {exc}", file=sys.stderr)

    line = _final_stdout_line(
        total, timings, sf, reps, slow_timings,
        load_start, load_end, spreads, slow_load, errors,
        calibration_s=cal,
        prev_calibration_s=prev_cal,
    )
    print(line)
    spark.stop()


if __name__ == "__main__":
    main()
