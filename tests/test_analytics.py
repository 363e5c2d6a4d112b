

def test_cluster_one_two_triangles(spark):
    """K15-equivalent native ClusterOne (wcModules.py:219-227): two unit
    triangles joined by a weak bridge resolve to exactly the two
    triangles.  Hand computation: growing from the highest-degree seed c
    adds a then b (f = 3/(3+0.1+6) = 0.32967) and rejects crossing the
    bridge (f would drop to 0.2366); the d-seed grows the mirror
    triangle; no merge (omega = 0); density 3/3 = 1."""
    from omics_data_integration_utilities_spark.analytics.clusterone import cluster_one

    edges = spark.createDataFrame(
        [
            ("a", "b", 1.0), ("b", "c", 1.0), ("a", "c", 1.0),
            ("d", "e", 1.0), ("e", "f", 1.0), ("d", "f", 1.0),
            ("c", "d", 0.1),
        ],
        "src string, dst string, weight double",
    )
    rows = sorted(map(tuple, cluster_one(edges).collect()))
    assert rows == [
        (0, "a", 3, 1.0, 0.32967), (0, "b", 3, 1.0, 0.32967), (0, "c", 3, 1.0, 0.32967),
        (1, "d", 3, 1.0, 0.32967), (1, "e", 3, 1.0, 0.32967), (1, "f", 3, 1.0, 0.32967),
    ]
    # pure function of the edge list: partitioning must not matter
    assert rows == sorted(map(tuple, cluster_one(edges.repartition(7)).collect()))


def test_cluster_one_merge_and_filters(spark):
    """Overlap merge and the size/density discards: two heavily
    overlapping quads merge (omega = 9/16 < 0.8 stays separate; identical
    clusters merge at omega = 1), and a dangling pair (size 2) is
    discarded."""
    from omics_data_integration_utilities_spark.analytics.clusterone import cluster_one

    # duplicate-direction edges of one triangle pool their weight; the
    # x-y pair is below min_size and must not appear
    edges = spark.createDataFrame(
        [
            ("a", "b", 1.0), ("b", "a", 1.0), ("b", "c", 2.0), ("a", "c", 2.0),
            ("x", "y", 5.0),
        ],
        "src string, dst string, weight double",
    )
    rows = sorted(map(tuple, cluster_one(edges).collect()))
    members = {r[1] for r in rows}
    assert members == {"a", "b", "c"}
    assert all(r[0] == 0 and r[2] == 3 for r in rows)


def test_cluster_one_min_size_one_and_density_guard(spark):
    """The shared _density helper defines singleton density as 1.0 by
    convention (vacuously complete) instead of dividing by zero.  A
    singleton cannot actually arise from _grow (any incident edge makes
    the first add improve f from exactly 0), so the guard is defensive —
    but min_size=1 is a legal argument and must not be a crash hazard on
    either strategy path."""
    from omics_data_integration_utilities_spark.analytics.clusterone import (
        _cluster_one_ego,
        cluster_one,
        _density,
    )
    from pyspark.sql import functions as F

    assert _density(0, 1) == 1.0
    assert _density(0, 0) == 1.0
    assert _density(3, 3) == 1.0
    assert _density(1, 3) == 1.0 / 3.0

    edges = spark.createDataFrame(
        [("a", "b", 5.0), ("b", "c", 5.0), ("a", "c", 5.0), ("c", "z", 0.01)],
        "src string, dst string, weight double",
    )
    rows = sorted(map(tuple, cluster_one(edges, min_size=1, min_density=0.0).collect()))
    assert rows  # no ZeroDivisionError, non-empty clustering
    # ego stats path with min_size=1: same graph through _cluster_one_ego
    und = (
        edges.select(
            F.least("src", "dst").alias("a"),
            F.greatest("src", "dst").alias("b"),
            F.col("weight").alias("w"),
        )
        .groupBy("a", "b")
        .agg(F.sum("w").alias("w"))
    )
    ego = sorted(
        map(
            tuple,
            _cluster_one_ego(
                spark, und, penalty=2.0, overlap_threshold=0.8, min_size=1,
                min_density=0.0,
            ).collect(),
        )
    )
    assert ego == rows


def test_cluster_one_seed_parallel_parity(spark, monkeypatch):
    """The seed-parallel growth path (threshold 0 forces it) must be
    bit-identical to the driver-loop core on a planted-module graph with
    noise bridges: _grow(seed) is a pure function of (seed, adj), the
    sequential `clustered` set only decides whether a seed grows, so the
    grow-all-then-replay strategy reproduces the sequential output."""
    from omics_data_integration_utilities_spark.analytics import clusterone
    from omics_data_integration_utilities_spark.analytics.clusterone import cluster_one

    # 24 nodes in four K6-ish blocks, plus deterministic cross bridges
    rows = []
    for blk in range(4):
        base = blk * 6
        for i in range(6):
            for j in range(i + 1, 6):
                if (i + j + blk) % 5:  # drop some in-block edges
                    rows.append((f"n{base+i}", f"n{base+j}", 1.0 + (i * j) % 3))
    for k in range(12):
        rows.append((f"n{k}", f"n{(k * 7 + 5) % 24}", 0.2))
    edges = spark.createDataFrame(rows, "src string, dst string, weight double")

    driver = sorted(map(tuple, cluster_one(edges).collect()))
    monkeypatch.setattr(clusterone, "SEED_PARALLEL_THRESHOLD", 0)
    dist = sorted(map(tuple, cluster_one(edges).collect()))
    assert driver == dist
    assert len({r[0] for r in driver}) >= 2


def test_cluster_one_auto_switch_parity_large_graph(spark, monkeypatch):
    """Above SEED_PARALLEL_THRESHOLD the dual strategy switches to the
    distributed grow path AUTOMATICALLY; on a 600-node planted-module
    graph (100 hexagon blocks + weak bridges) the auto-switched run must
    equal a driver-loop-forced run exactly."""
    import pytest

    pytest.importorskip("pandas")
    from omics_data_integration_utilities_spark.analytics import clusterone
    from omics_data_integration_utilities_spark.analytics.clusterone import cluster_one

    rows = []
    n_blocks, blk_size = 100, 6
    for blk in range(n_blocks):
        base = blk * blk_size
        for i in range(blk_size):
            for j in range(i + 1, blk_size):
                if (i + j + blk) % 7:
                    rows.append((f"n{base+i}", f"n{base+j}", 1.0 + (i + j * blk) % 4))
    n = n_blocks * blk_size
    for k in range(0, n, 3):
        rows.append((f"n{k}", f"n{(k * 13 + 7) % n}", 0.15))
    edges = spark.createDataFrame(rows, "src string, dst string, weight double")

    auto = sorted(map(tuple, cluster_one(edges).collect()))          # 600 > 512 → distributed
    monkeypatch.setattr(clusterone, "SEED_PARALLEL_THRESHOLD", 10**9)
    forced_driver = sorted(map(tuple, cluster_one(edges).collect()))
    assert auto == forced_driver
    assert len({r[0] for r in auto}) > 50

    # r9: the ego-delivery path (threshold 0 forces it — full edge list
    # never collected/broadcast, each task sees only its block's
    # radius-2 ego edges) must be bit-identical on the same 600-node
    # planted-module graph
    ego = sorted(map(tuple, cluster_one(edges, ego_edge_threshold=0).collect()))
    assert ego == forced_driver


def test_cluster_one_ego_radius_escalation_parity(spark, monkeypatch):
    """Ego-delivery with radius 1 forces EgoOverflow for every seed whose
    greedy reaches 2 hops out; the escalation loop (1 → 2 → 4) must
    recover them and the output must still equal the driver path — this
    exercises the overflow guard, the escalation rounds AND (with
    EGO_MAX_DOUBLINGS=0) the full-collect backstop, which warns."""
    import warnings

    import pytest

    from omics_data_integration_utilities_spark.analytics import clusterone
    from omics_data_integration_utilities_spark.analytics.clusterone import cluster_one

    rows = []
    for blk in range(4):
        base = blk * 6
        for i in range(6):
            for j in range(i + 1, 6):
                if (i + j + blk) % 5:
                    rows.append((f"n{base+i}", f"n{base+j}", 1.0 + (i * j) % 3))
    for k in range(12):
        rows.append((f"n{k}", f"n{(k * 7 + 5) % 24}", 0.2))
    edges = spark.createDataFrame(rows, "src string, dst string, weight double")

    driver = sorted(map(tuple, cluster_one(edges).collect()))
    monkeypatch.setattr(clusterone, "EGO_RADIUS", 1)
    with warnings.catch_warnings():
        warnings.simplefilter("error", RuntimeWarning)
        escalated = sorted(map(tuple, cluster_one(edges, ego_edge_threshold=0).collect()))
    assert escalated == driver
    monkeypatch.setattr(clusterone, "EGO_MAX_DOUBLINGS", 0)
    with pytest.warns(RuntimeWarning, match="seeds escaped their radius-1 ego balls"):
        backstop = sorted(map(tuple, cluster_one(edges, ego_edge_threshold=0).collect()))
    assert backstop == driver
