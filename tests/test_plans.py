"""Plan-quality assertions: the physical plans must show the shapes the
100 TB design depends on — broadcast joins for dims, pushed filters and
pruned scans, no BroadcastNestedLoopJoin on the grid-bucketed band join,
and no pathological Generate-filter re-inlining (the minhash regression).
"""

from __future__ import annotations

import pytest

import __spark_entry__ as entrymod
from .conftest import SF_SMOKE, broadcasts_off

QUERIES = entrymod.queries()


def _plan(spark, name: str) -> str:
    df = QUERIES[name](spark, SF_SMOKE)
    return df._jdf.queryExecution().executedPlan().toString()


def test_star_join_broadcasts_dims(spark):
    plan = _plan(spark, "j1_star_join")
    assert "BroadcastHashJoin" in plan


def test_band_join_is_equi_not_nested_loop(spark):
    plan = _plan(spark, "j4_band_join")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Join" in plan  # hash or sort-merge on the grid bucket


def test_dict_join_broadcasts(spark):
    plan = _plan(spark, "j9_dict_join")
    assert "BroadcastHashJoin" in plan


def test_pricing_summary_pushes_filter_and_prunes(spark):
    df = QUERIES["a3_pricing_summary"](spark, SF_SMOKE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    # the shipdate predicate must reach the parquet scan
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan
    # column pruning: unused columns (l_comment-style) absent from ReadSchema
    assert "l_partkey" not in plan.split("ReadSchema")[1][:400]


def test_semi_join_planned_as_semi(spark):
    plan = _plan(spark, "j7_semi_join")
    assert "LeftSemi" in plan


def test_anti_join_planned_as_anti(spark):
    plan = _plan(spark, "j8_anti_join")
    assert "LeftAnti" in plan


def test_minhash_no_filter_reinlining(spark):
    plan = _plan(spark, "dedup_minhash_signatures")
    # the md5 chain must appear in a projection exactly once, never in a
    # Filter (the Generate-pushdown regression computed it 17x)
    assert plan.count("md5") <= 2  # one in __h projection (+1 possible subexpr label)


def test_topk_uses_window_limit(spark):
    plan = _plan(spark, "o1_global_topk")
    assert "TakeOrderedAndProject" in plan


def test_k2_mass_is_pure_projection(spark):
    """The SMARTS mass parser is a scan + project: no Exchange, no Python
    workers — scan-speed at any scale."""
    plan = _plan(spark, "k2_mass")
    assert "Exchange" not in plan
    assert "EvalPython" not in plan


def test_k13_roc_no_python_and_bounded_shuffles(spark):
    plan = _plan(spark, "k13_roc")
    assert "EvalPython" not in plan
    assert plan.count("Exchange") <= 3  # agg + window partitions


def test_winnowing_single_shuffle_no_python(spark):
    plan = _plan(spark, "text_winnowing")
    assert "EvalPython" not in plan
    # one shuffle to the (doc) window + the distinct aggregation
    assert plan.count("Exchange") <= 3


def test_session_windows_no_python(spark):
    plan = _plan(spark, "events_sessions")
    assert "EvalPython" not in plan


def test_reaction_default_kernel_stays_jvm(spark):
    """The K1 default path must not route through Python workers (the
    kernel slot is opt-in for RDKit)."""
    plan = _plan(spark, "k1_reaction_products")
    assert "EvalPython" not in plan
    assert "BroadcastNestedLoopJoin" in plan or "Broadcast" in plan  # rule fan-out broadcast


def test_data_pipeline_stays_jvm(spark):
    """The curation composite (filter → scrub → dedup → near-dup → split)
    must be a pure JVM plan — no Python workers anywhere in the chain."""
    plan = _plan(spark, "plan_data_pipeline")
    assert "EvalPython" not in plan

def test_data_pipeline_checkpoint_holds_no_reinlining(spark):
    """The curation pipeline's branch point (filter → scrub → window
    dedup) is localCheckpointed: the three consumers (posting index,
    anti-join left side, token projection) must read the checkpointed
    RDD, never re-inline the scrub chain per branch."""
    plan = _plan(spark, "plan_data_pipeline")
    # the scrub regexp machinery runs entirely BEHIND the checkpoint
    assert plan.count("regexp_replace") == 0
    # ...and the branches scan the materialized RDD instead
    assert plan.count("ExistingRDD") >= 2


def test_data_pipeline_neardup_is_inverted_index(spark):
    """The near-dup stage must be the inverted-index shape: shingle
    explode (Generate) + equi-join on the posting key + anti-join drop —
    never an all-pairs cartesian/nested-loop."""
    plan = _plan(spark, "plan_data_pipeline")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Generate" in plan
    assert "LeftAnti" in plan
    assert any(
        j in plan
        for j in ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin")
    )


def test_enzyme_annotation_plan_shape(spark):
    """The r9 enzyme-annotation composite must keep its 100 TB shape:
    JVM throughout except the ONE documented Arrow p-value kernel
    (corr_pvalues — the same sanctioned non-SQL step k6_corr_pvalue
    carries), the pfam dictionary and event-type tables broadcast, and
    no join degrades to a cartesian/nested-loop."""
    from omics_data_integration_utilities_spark.plans.registry_pathway import (
        q_plan_enzyme_annotation,
    )

    # the default (checkpointed) plan: both coexpression branches read
    # the materialized branch point instead of re-inlining the corr leg
    plan = _plan(spark, "plan_enzyme_annotation")
    assert plan.count("ExistingRDD") >= 2
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "FullOuter" in plan                  # the coexpression merge

    # the checkpoint HIDES the upstream lineage, so assert the 100 TB
    # shape on the un-checkpointed form: exactly one Arrow kernel per
    # branch fan-out (the sanctioned p-value step), no row-at-a-time
    # Python, no cartesian anywhere in the full chain
    full = (
        q_plan_enzyme_annotation(spark, SF_SMOKE, checkpoint=False)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert full.count("ArrowEvalPython") >= 1   # the p-value kernel is Arrow
    assert "BatchEvalPython" not in full        # never row-at-a-time Python
    assert "CartesianProduct" not in full
    assert "BroadcastNestedLoopJoin" not in full
    assert "BroadcastHashJoin" in full          # dict/type lookups


def test_substring_dedup_plan_shape(spark):
    """The exact-substring dedup family must keep its 100 TB shape: pure
    JVM (array expressions + explode, no Python workers), duplicate
    detection as partial-agg groupBy + equi-join (never a window over
    the hot gram key, never a cartesian), and the island merge as
    same-spec windows over doc_id."""
    for name in ("dedup_substring_spans", "dedup_substring_remove"):
        plan = _plan(spark, name)
        assert "EvalPython" not in plan, name          # JVM throughout
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name
        assert "Generate" in plan, name                # the gram explode
        # partial aggregation BEFORE the digest exchange: the hot-gram
        # collapse the scale design depends on (two HashAggregates per
        # grouping — partial + final)
        assert plan.count("HashAggregate") >= 2, name
        assert any(
            j in plan
            for j in ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin")
        ), name
        assert "Window" in plan, name                  # island merge


def test_incremental_dedup_plan_shape(spark):
    """Incremental dedup must keep its 100 TB shape: pure JVM, no
    cartesian/nested-loop anywhere, the reference touched only through
    hash joins on projected columns, and the two near stages sharing
    ONE band-key aggregation (the union-bucket formulation — a second
    groupBy over band keys would mean the batch minhash chain runs
    twice)."""
    from omics_data_integration_utilities_spark.plans.registry_docs import (
        QUERIES_DOCS,
    )

    df = QUERIES_DOCS["dedup_incremental"](spark, SF_SMOKE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert any(
        j in plan for j in ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin")
    )
    # exactly one grouping over the union-tagged band keys (the
    # collect_list ObjectHashAggregate): both near flags derive from one
    # pass over the buckets, so a SECOND final bucket aggregate in the
    # plan would betray a branch recomputing the whole minhash chain
    n_bucket_aggs = sum(
        1
        for ln in plan.splitlines()
        if "collect_list" in ln and "partial" not in ln
    )
    assert n_bucket_aggs == 1, plan


def test_doc_novelty_partial_agg_no_python_no_window(spark):
    """gram_novelty's 100 TB shape: the min-id-owner side must partial-
    aggregate before its exchange (hot boilerplate grams collapse
    map-side), with no rank window over the gram key and no Python."""
    plan = _plan(spark, "doc_novelty")
    assert "partial_min" in plan or "partial" in plan
    assert "Window" not in plan
    assert "Python" not in plan and "ArrowEval" not in plan


def test_text_length_quantiles_single_aggregate_no_python(spark):
    """One combinable aggregate over one scan: exactly one exchange pair
    (partial -> final), no join, no window, no Python."""
    plan = _plan(spark, "text_length_quantiles")
    assert "Join" not in plan
    assert "Window" not in plan
    assert "Python" not in plan and "ArrowEval" not in plan
    assert "percentile" in plan


def test_dedup_keep_best_no_rank_window(spark):
    """keep_best_per_component must pick winners via the partial-agg
    max(struct) + join-back, never a rank window over the component key
    (hot mega-components would serialize into one window partition)."""
    plan = _plan(spark, "dedup_keep_best")
    assert "Window" not in plan
    assert "partial_max" in plan or "partial" in plan


def test_events_funnel_single_conditional_scan(spark):
    """The windowed funnel stays ONE conditional-aggregation scan over
    events: no join, no Python; the stage explosion is a row-local
    Generate after the aggregate."""
    plan = _plan(spark, "events_funnel")
    assert "Join" not in plan
    assert "Python" not in plan and "ArrowEval" not in plan
    assert plan.count("Scan parquet") == 1


def _walk(node):
    """Nodes of an executed plan, descending into AQE's final plan, its
    query stages and reused exchanges (a join can sit under a later
    stage's exchange)."""
    cls = node.getClass().getSimpleName()
    if cls == "AdaptiveSparkPlanExec":
        yield from _walk(node.executedPlan())
        return
    if cls.endswith("QueryStageExec"):
        yield from _walk(node.plan())
        return
    if cls == "ReusedExchangeExec":
        yield from _walk(node.child())
        return
    yield node
    children = node.children()
    for i in range(children.size()):
        yield from _walk(children.apply(i))


def _final_joins(node):
    return [n for n in _walk(node) if "Join" in n.getClass().getSimpleName()]


def _cols(node) -> set[str]:
    out = node.output()
    return {out.apply(i).name() for i in range(out.size())}


def _assert_pair_side_left_outer(df) -> tuple[list, list[str]]:
    """Every join in ``df``'s final plan is LEFT OUTER with the pair-scale
    relation (the one carrying ``inter``) on the left, so it can never be
    the build side; returns the sorted rows and the join node names."""
    rows = sorted(map(tuple, df.collect()))
    names = []
    for j in _final_joins(df._jdf.queryExecution().executedPlan()):
        names.append(j.getClass().getSimpleName())
        assert j.joinType().toString() == "LeftOuter", names[-1]
        assert "inter" in _cols(j.left())
    assert len(names) == 2, names
    return rows, names


def test_pair_scale_relations_never_broadcast(spark):
    """r12 probe finding: the planner used to guess the post-aggregation
    PAIR-scale sides (inter / pairs / exact) small and broadcast them —
    a >1 GiB driver collect at 16x duplication.  ``ngram_jaccard_pairs``
    rules that out by shape: both size joins are LEFT OUTER with the
    pair relation on the left, and Spark builds a left outer join only
    from its right side, so no planner can broadcast ``inter``.  Lock
    both regimes on the FINAL plan: with broadcasts switched off by
    session conf (the scale path) no join broadcasts; with defaults the
    doc-scale size table is broadcast; and the two regimes agree
    exactly."""
    from omics_data_integration_utilities_spark.operators.dedup import (
        ngram_jaccard_pairs,
    )

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    with broadcasts_off(spark):
        b, joins = _assert_pair_side_left_outer(ngram_jaccard_pairs(docs, "text", "doc_id"))
    assert "BroadcastHashJoinExec" not in joins, joins
    a, joins = _assert_pair_side_left_outer(ngram_jaccard_pairs(docs, "text", "doc_id"))
    assert joins == ["BroadcastHashJoinExec"] * 2, joins
    assert a and a == b


@pytest.fixture(scope="module")
def split_docs(spark, tmp_path_factory):
    """The smoke corpus split as the registered text queries split it
    (every 20th doc held out), each half in its own parquet dir so a
    plan's scans say which half they read."""
    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    root = tmp_path_factory.mktemp("split")
    docs.where("doc_id % 20 != 0").write.parquet(str(root / "train"))
    docs.where("doc_id % 20 = 0").write.parquet(str(root / "test"))
    return str(root / "train"), str(root / "test")


def _scans(node, path: str) -> bool:
    return any(
        n.getClass().getSimpleName() == "FileSourceScanExec"
        and path in n.relation().location().rootPaths().mkString()
        for n in _walk(node)
    )


def _bounded_side_join(j, train: str) -> tuple[bool, bool]:
    """Whether ``j`` joins the unbounded relation to a bounded side, and
    whether the unbounded relation is on its left.  The bounded side is
    a relation that never scans ``train`` (a gram set, the test grams,
    the sketch candidates), or one doc-scale signature side against the
    pair stream."""
    left, right = _cols(j.left()), _cols(j.right())
    if right & {"__sa", "__sb"}:
        return True, {"id_a", "id_b"} <= left
    if not _scans(j.right(), train):
        return True, _scans(j.left(), train)
    return False, False


def _run_recording_joins(monkeypatch, build) -> tuple[list, list]:
    """Collect ``build()``; return its rows and the final-plan joins of
    every frame collected on the way (``frequent_items`` runs its
    recount join inside the certificate's own collect)."""
    from pyspark.sql.classic.dataframe import DataFrame

    frames = []
    collect = DataFrame.collect

    def recording(self):
        frames.append(self)
        return collect(self)

    with monkeypatch.context() as m:
        m.setattr(DataFrame, "collect", recording)
        rows = sorted(map(tuple, build().collect()), key=repr)
    joins = [
        j for f in frames for j in _final_joins(f._jdf.queryExecution().executedPlan())
    ]
    return rows, joins


@pytest.mark.parametrize(
    "op, n_joins",
    [
        ("frequent_items", 1),
        ("ngram_decontaminate", 1),
        ("contamination_report", 2),
        ("minhash_estimate_accuracy", 2),
    ],
)
def test_bounded_side_joins_by_plan_shape(spark, split_docs, monkeypatch, op, n_joins):
    """The joins that pair an unbounded relation with a bounded one are
    safe by shape, not by a count taken at build: each is LEFT SEMI or
    LEFT OUTER with the unbounded relation on the left, and Spark builds
    those joins only from the right side, so no planner can broadcast
    the unbounded relation.  On the FINAL plan: with broadcasts switched
    off by session conf (the scale path) no join broadcasts; with
    defaults AQE broadcasts the bounded side; and the two regimes
    return identical rows."""
    from omics_data_integration_utilities_spark.operators import dedup, text

    train_path, test_path = split_docs
    train, test = spark.read.parquet(train_path), spark.read.parquet(test_path)
    build = {
        "frequent_items": lambda: text.heavy_hitters(train, "text", k=20, capacity=512),
        "ngram_decontaminate": lambda: text.ngram_decontaminate(
            train, test, "text", "doc_id"
        ),
        "contamination_report": lambda: text.contamination_report(
            train, test, "text", "doc_id"
        ),
        "minhash_estimate_accuracy": lambda: dedup.minhash_estimate_accuracy(
            train, "text", "doc_id"
        ),
    }[op]

    def bounded_joins(joins):
        picked = []
        for j in joins:
            bounded, unbounded_left = _bounded_side_join(j, train_path)
            if bounded:
                assert j.joinType().toString() in ("LeftSemi", "LeftOuter"), j
                assert unbounded_left, j
                picked.append(j.getClass().getSimpleName())
        assert len(picked) == n_joins, picked
        return picked

    with broadcasts_off(spark):
        off_rows, joins = _run_recording_joins(monkeypatch, build)
    bounded_joins(joins)
    assert not [j for j in joins if "Broadcast" in j.getClass().getSimpleName()]
    rows, joins = _run_recording_joins(monkeypatch, build)
    assert bounded_joins(joins) == ["BroadcastHashJoinExec"] * n_joins
    assert rows and rows == off_rows


def test_heavy_hitters_certified_path_is_local(spark):
    """text_heavy_hitters at the registered capacity must take the
    CERTIFIED path on the testdata (k-th count * (capacity+1) > N —
    measured N/c50 is ~5.4k at sf0.001 vs capacity 16384): the returned
    frame is the k-row driver-side materialization, not a re-executable
    shuffle plan, and never the top_ngrams fallback."""
    plan = _plan(spark, "text_heavy_hitters")
    assert "Exchange" not in plan
    assert "LocalTableScan" in plan or "Scan ExistingRDD" in plan


def test_heavy_hitters_fallback_is_exact_groupby(spark):
    """With capacity ~k on a near-uniform corpus the certificate cannot
    hold; the operator must fall back to the full exact groupBy (an
    Exchange-bearing plan), never return an uncertified sketch."""
    from omics_data_integration_utilities_spark.operators.text import heavy_hitters

    rows = [(i, " ".join(f"u{i}w{j}" for j in range(6))) for i in range(80)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = heavy_hitters(df, "text", n=3, k=50, capacity=50)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" in plan or "AdaptiveSparkPlan" in plan


def test_heavy_hitters_recount_exact_with_broadcasts_off(spark):
    """The recount stays exact with broadcasts switched off (the scale
    regime, where the candidate set is past the broadcast threshold)."""
    from omics_data_integration_utilities_spark.operators.text import (
        heavy_hitters,
        top_ngrams,
    )

    hot = "the same boiler plate line here"
    rows = [(i, hot) for i in range(300)] + [
        (300 + i, f"q{i}a q{i}b q{i}c q{i}d") for i in range(200)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string").repartition(8)
    with broadcasts_off(spark):
        got = [
            (r["ngram"], r["n_occurrences"])
            for r in heavy_hitters(df, "text", n=3, k=4, capacity=64).collect()
        ]
    want = [
        (r["ngram"], r["n_occurrences"])
        for r in top_ngrams(df, "text", n=3, k=4).collect()
    ]
    assert got == want


def test_salted_join_routing_plan_shape(spark):
    """events_salted_join's routed union: both branches hash-join the
    broadcastable dim (the 8x salt replication of a small dim is still
    broadcastable), never a nested-loop or cartesian — and the salted
    branch's explode must not block the broadcast."""
    plan = _plan(spark, "events_salted_join")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastHashJoin") >= 2  # salted + plain branch


def test_leakage_safe_split_adds_no_shuffle_over_components(spark):
    """The split is a pure md5 projection over the (checkpointed)
    component frame: ZERO exchanges in the executed plan — equal
    components hash equal everywhere, so no join is ever needed to
    agree on a cluster's split."""
    plan = _plan(spark, "doc_split_leakage_safe")
    assert "Exchange" not in plan
    assert "Join" not in plan


def test_pruned_scan_partition_and_pushed_filters(spark):
    """doc_pruned_scan's whole point is the scan shape: the source
    equality must be a PartitionFilter (directories never listed), the
    doc_id range must reach the parquet reader (PushedFilters), and the
    scan must read only the aggregate's columns — text stays on disk."""
    plan = _plan(spark, "doc_pruned_scan")
    assert "PartitionFilters: [isnotnull(source" in plan
    assert "(source" in plan and "= src7)" in plan
    assert "LessThan(doc_id,300)" in plan
    assert "ReadSchema: struct<doc_id:bigint,lang:string,n_chars:bigint>" in plan
    assert "text" not in plan.split("ReadSchema:")[1].split("\n")[0]


def test_profile_exact_expands_approx_does_not(spark):
    """profile_table's documented trade: exact multi-column distinct
    plans an Expand (|cols|x row multiplication); the approx (HLL++)
    mode must stay a single no-Expand pass — that's why it is the
    100 TB path."""
    from omics_data_integration_utilities_spark.operators.profile import profile_table

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    exact_plan = (
        profile_table(docs)._jdf.queryExecution().executedPlan().toString()
    )
    approx_plan = (
        profile_table(docs, approx=True)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Expand" in exact_plan
    assert "Expand" not in approx_plan
    assert "Python" not in exact_plan and "Python" not in approx_plan


def test_dataset_card_approx_tracks_exact(spark):
    """dataset_card approx=True (HLL++ for both distincts — the no-
    Expand scale path) must stay within the rsd envelope of the exact
    card on every per-source row."""
    from omics_data_integration_utilities_spark.plans.data_pipeline import dataset_card

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    ex = {r["source"]: r.asDict() for r in dataset_card(docs).collect()}
    ap = {r["source"]: r.asDict() for r in dataset_card(docs, approx=True).collect()}
    assert set(ex) == set(ap)
    for s in ex:
        # non-distinct aggregates must be identical
        for k in ("n_docs", "n_chars", "n_ws_tokens", "mean_quality"):
            assert ex[s][k] == ap[s][k], (s, k)
        # HLL at rsd 0.05 on per-source cardinalities (~25 texts): 4
        # sigma plus the integer floor
        n = ex[s]["n_docs"]
        assert abs(ex[s]["dup_frac"] - ap[s]["dup_frac"]) <= (4 * 0.05) + 4.0 / n
        assert abs(ex[s]["n_langs"] - ap[s]["n_langs"]) <= max(1, 0.2 * ex[s]["n_langs"])


def test_registry_cleanup_drops_final_generation(spark):
    """r13 verdict item 8: after cleanup_registry_state() no registry
    tempdir (ANN index, dedup index, layout dir, memoized probe
    indexes) survives, and the catalog tables are gone."""
    import os

    from omics_data_integration_utilities_spark.plans import registry_docs as rd

    sf = "/root/testdata/sf0.001"
    rd.q_sim_index_topk(spark, sf).collect()
    rd.q_doc_pruned_scan(spark, sf).collect()
    rd.q_dedup_incremental_indexed(spark, sf).collect()
    live = (
        [idx.path for idx in rd._ANN_IDX_SHARED.values()]
        + list(rd._LAYOUT_LAST)
        + [p for _, p in rd._INCR_IDX_LAST]
    )
    tables = [idx.lists_table for idx in rd._ANN_IDX_SHARED.values()] + [
        t for ts, _ in rd._INCR_IDX_LAST for t in ts
    ]
    assert live and all(os.path.isdir(p) for p in live)
    rd.cleanup_registry_state()
    assert not rd._ANN_IDX_SHARED and not rd._LAYOUT_LAST and not rd._INCR_IDX_LAST
    assert not rd._PROBE_IDX
    assert all(not os.path.exists(p) for p in live)
    for t in tables:
        assert not spark.catalog.tableExists(t), t


def test_pathway_expand_unrolled_matches_materialized(spark, monkeypatch):
    """r16 optimization: the lazy-unrolled expansion (one job,
    ReusedExchange-deduped subtrees) must produce exactly the rows of the
    per-round materialized loop — including when a round dries up
    (the materialized path early-exits, the unrolled path just unions
    zero rows)."""
    from pyspark.sql import functions as F

    from omics_data_integration_utilities_spark.plans import pathway_expand
    from omics_data_integration_utilities_spark.plans.pathway_expand import (
        iterative_expand,
    )

    structs = spark.createDataFrame(
        [(1, 10.0), (2, 10.5), (3, 11.0), (4, 99.0)], "structure_id long, mm double"
    )
    trans = spark.createDataFrame(
        [("up", 0.5), ("down", -0.5)], "transition string, delta double"
    )
    for roots in (structs, structs.where(F.col("structure_id") == 4)):
        # 3 rounds <= UNROLL_ROUNDS: the unrolled plan
        a = sorted(map(tuple, iterative_expand(roots, trans, 3, known=structs).collect()))
        with monkeypatch.context() as m:
            m.setattr(pathway_expand, "UNROLL_ROUNDS", 0)
            b = sorted(map(tuple, iterative_expand(roots, trans, 3, known=structs).collect()))
        assert a == b and len(a) > 0
