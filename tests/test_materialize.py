"""``session.materialize`` is the one checkpoint primitive: local
checkpoints by default, reliable checkpoints once the SparkContext has a
checkpoint dir.  Every driver loop gives the same rows either way."""

from __future__ import annotations

import ast
import pathlib

import pytest

from omics_data_integration_utilities_spark.analytics import clusterone, drivernet
from omics_data_integration_utilities_spark.operators import containment, dedup
from omics_data_integration_utilities_spark.plans import pathway_expand

from .conftest import SF_SMOKE, jobs_fired


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _module_graph(spark):
    """24 nodes in four K6-ish blocks plus deterministic cross bridges."""
    rows = []
    for blk in range(4):
        base = blk * 6
        for i in range(6):
            for j in range(i + 1, 6):
                if (i + j + blk) % 5:
                    rows.append((f"n{base+i}", f"n{base+j}", 1.0 + (i * j) % 3))
    for k in range(12):
        rows.append((f"n{k}", f"n{(k * 7 + 5) % 24}", 0.2))
    return spark.createDataFrame(rows, "src string, dst string, weight double")


def _loop_outputs(spark, monkeypatch) -> dict:
    """Every driver loop on a small input, each physical path forced in
    turn through its module constant."""
    out = {}
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21), (21, 22)], "id_a long, id_b long"
    )
    out["connected_components"] = _rows(dedup.connected_components(pairs))

    rules = spark.createDataFrame(
        [
            ("A", True, True, ["B", "C", "D"], []),
            ("B", False, False, ["C"], ["A"]),
            ("C", False, True, [], ["A", "B"]),
            ("D", False, True, ["E"], ["A"]),
            ("E", False, True, [], ["D"]),
        ],
        "rule_id string, is_base boolean, passes boolean, "
        "is_in array<string>, has array<string>",
    )
    events = spark.createDataFrame(
        [
            ("A", "p1", "g1"), ("A", "p2", "g1"), ("A", "p3", "g2"),
            ("B", "p1", "g1"), ("B", "p4", "g3"), ("B", "p5", "g1"),
            ("C", "p6", "g2"), ("C", "p4", "g3"),
        ],
        "mut_gene string, patient string, out_gene string",
    )
    structs = spark.createDataFrame(
        [(1, 10.0), (2, 10.5), (3, 11.0), (4, 99.0)], "structure_id long, mm double"
    )
    trans = spark.createDataFrame(
        [("up", 0.5), ("down", -0.5)], "transition string, delta double"
    )
    with monkeypatch.context() as m:
        for path, threshold in (("driver", 10**9), ("distributed", -1)):
            m.setattr(containment, "RULE_BFS_COLLECT_THRESHOLD", threshold)
            m.setattr(drivernet, "GREEDY_COLLECT_THRESHOLD", threshold)
            out[f"rule_bfs_{path}"] = _rows(containment.rule_bfs(rules))
            out[f"greedy_{path}"] = drivernet.greedy_driver_selection(events, k=4)
        for path, rounds in (("unrolled", 10**9), ("materialized", 0)):
            m.setattr(pathway_expand, "UNROLL_ROUNDS", rounds)
            out[f"iterative_expand_{path}"] = _rows(
                pathway_expand.iterative_expand(structs, trans, 3, known=structs)
            )

    docs = spark.createDataFrame(
        [
            (1, "a b c d e f g"),
            (2, "a b c d e f g h i"),
            (3, "c d e f g"),
            (4, "x y z w v u"),
        ],
        "doc_id long, text string",
    )
    out["containment_map"] = _rows(
        containment.containment_map(docs, "text", "doc_id", width=2)
    )

    edges = _module_graph(spark)
    out["cluster_one_driver"] = _rows(clusterone.cluster_one(edges))
    out["cluster_one_ego"] = _rows(clusterone.cluster_one(edges, ego_edge_threshold=0))
    with monkeypatch.context() as m:
        m.setattr(clusterone, "EGO_RADIUS", 1)
        out["cluster_one_ego_radius1"] = _rows(
            clusterone.cluster_one(edges, ego_edge_threshold=0)
        )
    return out


@pytest.fixture(scope="module")
def local_outputs(spark):
    mp = pytest.MonkeyPatch()
    try:
        return _loop_outputs(spark, mp)
    finally:
        mp.undo()


@pytest.fixture(params=["local", "reliable"])
def checkpoint_mode(request, spark, tmp_path):
    """``reliable`` sets a checkpoint dir for the test and unsets it
    after: a dir left set would turn every later materialisation of the
    session into a reliable checkpoint write."""
    sc = spark.sparkContext
    assert sc.getCheckpointDir() is None
    if request.param == "local":
        yield request.param, None
        return
    sc.setCheckpointDir(str(tmp_path))
    try:
        yield request.param, tmp_path
    finally:
        getattr(sc._jsc.sc(), "checkpointDir_$eq")(sc._jvm.scala.Option.empty())
    assert sc.getCheckpointDir() is None


def test_loops_give_identical_rows_in_both_modes(spark, monkeypatch, local_outputs, checkpoint_mode):
    mode, ckpt_dir = checkpoint_mode
    got = _loop_outputs(spark, monkeypatch)
    assert got.keys() == local_outputs.keys()
    for name, rows in local_outputs.items():
        assert rows, name
        assert got[name] == rows, name
    # every forced path agrees with its default path
    for a, b in (
        ("rule_bfs_driver", "rule_bfs_distributed"),
        ("greedy_driver", "greedy_distributed"),
        ("iterative_expand_unrolled", "iterative_expand_materialized"),
        ("cluster_one_driver", "cluster_one_ego"),
        ("cluster_one_driver", "cluster_one_ego_radius1"),
    ):
        assert got[a] == got[b], (a, b)
    if mode == "reliable":
        assert any(p.is_file() for p in ckpt_dir.rglob("*")), "no reliable checkpoint written"


def test_get_spark_cleans_reliable_checkpoints(spark):
    """Reliable checkpoints are deleted once their RDD is garbage, so a
    session with a checkpoint dir does not keep every materialised
    relation on disk."""
    conf = spark.sparkContext.getConf()
    assert conf.get("spark.cleaner.referenceTracking.cleanCheckpoints") == "true"


def test_materialize_is_the_only_checkpoint_site():
    """``localCheckpoint(`` and ``.checkpoint(`` occur in the package
    only inside ``session.materialize``."""
    import omics_data_integration_utilities_spark as pkg

    root = pathlib.Path(pkg.__file__).parent
    hits = []
    for path in sorted(root.rglob("*.py")):
        src = path.read_text()
        if "localCheckpoint(" not in src and ".checkpoint(" not in src:
            continue
        inside = set()
        for node in ast.walk(ast.parse(src, str(path))):
            if isinstance(node, ast.FunctionDef) and node.name == "materialize":
                inside.update(range(node.lineno, node.end_lineno + 1))
        for i, line in enumerate(src.splitlines(), 1):
            if ("localCheckpoint(" in line or ".checkpoint(" in line) and not (
                path.name == "session.py" and i in inside
            ):
                hits.append(f"{path.relative_to(root)}:{i}")
    assert hits == []


def test_loop_queries_job_budget(spark):
    """Warm build / build + ``noop`` write jobs of the registered queries
    that run driver loops, at sf0.001.  The ego ClusterOne query carries
    each seed's ball and frontier from hop to hop and round to round
    (54/56 measured, 2 jobs of slack for AQE); re-deriving them from the
    seeds fired 147/147 (SCALE.md "one materialisation primitive" has the
    counts by loop).  No query falls back to the ego backstop, which
    warns."""
    import warnings

    import __spark_entry__

    queries = __spark_entry__.queries()
    budgets = {
        "clusterone_modules_ego": (56, 58),
        "clusterone_modules": (6, 7),
        "k4_rule_bfs": (17, 18),
        "drivernet_greedy": (13, 14),
        "drivernet_significance": (24, 29),
        "drivernet_permutation": (11, 12),
        "rulemap_containment": (3, 13),
    }
    fired = {}
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always", RuntimeWarning)
        for name in budgets:
            build = queries[name]

            def run(build=build):
                build(spark, SF_SMOKE).write.format("noop").mode("overwrite").save()

            run()
            fired[name] = (
                jobs_fired(spark, lambda: build(spark, SF_SMOKE)),
                jobs_fired(spark, run),
            )
    assert not [w for w in caught if "cluster_one" in str(w.message)]
    assert all(
        fired[n][0] <= budgets[n][0] and fired[n][1] <= budgets[n][1]
        for n in budgets
    ), fired
