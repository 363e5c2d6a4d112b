"""ClusterOne-equivalent native clustering (SURVEY §2 K15, reference
``integrative_omics/wcModules.py:219-227``).

The reference shells out to the ClusterOne jar (``java -jar
cluster_one-1.0.jar edges.txt``) over the S10 edge-file sink.  This
module replaces the external binary with a native implementation of the
same published algorithm (Nepusz, Yu, Paccanaro 2012 — greedy
cohesiveness growth): Spark builds/aggregates the weighted edge list
distributed (exactly what the S10 sink feeds the jar), and the greedy
core runs driver-side on the collected edges — the same operating point
as the reference, where the jar is a single-node subprocess over a
post-filter graph.  Keep it that way at scale: filter first, cluster
the small residue.

Algorithm (deterministic, ties broken on the node key):

- cohesiveness ``f(V) = w_in / (w_in + w_bound + penalty·|V|)`` where
  ``w_in`` is total internal edge weight and ``w_bound`` the weight
  crossing the cluster boundary,
- seeds are vertices in decreasing weighted-degree order that are not
  yet in any cluster; each seed grows by the best single add-or-remove
  step until no step improves ``f``,
- overlapping clusters merge when the overlap score
  ``ω(A,B) = |A∩B|² / (|A|·|B|)`` reaches ``overlap_threshold``,
- clusters below ``min_size`` or below ``min_density`` are discarded
  (the jar's defaults discard size<3, density<0.5 complexes).
"""

from __future__ import annotations

import warnings
from collections import defaultdict

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..session import materialize

# Up to this many seeds the greedy grows on the driver; above it each seed
# grows in a task against a broadcast adjacency.
SEED_PARALLEL_THRESHOLD = 512
# Ego delivery: first BFS radius, and how many times it doubles for the
# seeds whose growth escaped their ball before the full-adjacency backstop.
EGO_RADIUS = 2
EGO_MAX_DOUBLINGS = 2


def _cohesiveness(w_in: float, w_bound: float, size: int, penalty: float) -> float:
    denom = w_in + w_bound + penalty * size
    return w_in / denom if denom > 0 else 0.0


def _density(n_in: int, size: int) -> float:
    """Internal-edge density ``n_in / C(size, 2)``.  A singleton cluster
    (reachable only when a caller passes ``min_size <= 1``) has no
    required internal pair — vacuously complete, density 1.0 by
    convention.  Shared by both strategy paths so the convention (and
    the divide-by-zero guard) cannot drift between them."""
    pairs = size * (size - 1) / 2.0
    return n_in / pairs if pairs else 1.0


class EgoOverflow(Exception):
    """Raised by :func:`_grow` when growth under a radius-bounded ego
    adjacency needs a node whose neighbor rows were not delivered —
    the caller escalates the radius and retries (exactness guard for
    the ego-delivery path; never raised with ``complete=None``)."""


def _grow(seed: str, adj: dict, penalty: float, complete: set | None = None) -> frozenset:
    """Greedy best-step growth from one seed: at each step evaluate every
    adjacent external vertex (add) and every member (remove, never the
    seed); take the single step with the largest cohesiveness gain,
    node-key ties ascending; stop when no step improves.

    Candidate evaluation is INCREMENTAL — adding v moves ``w_v`` (v's
    weight into the cluster) from boundary to internal and contributes
    v's remaining degree to the boundary; removal is the mirror — so one
    candidate costs O(deg(v)) instead of an O(|V|·deg) full recount.
    The (w_in, w_bound) base is recounted from scratch after every
    APPLIED step, so float drift cannot accumulate across steps.

    ``complete``: optional set of nodes whose ``adj`` rows are known to
    be COMPLETE (ego-delivery path).  Members stay inside it by
    induction (the seed starts there and every applied step passed the
    guard), so the one guard needed is on the evaluated candidates: a
    candidate outside ``complete`` has partial adjacency, which would
    silently corrupt ``ext_v`` — raise :class:`EgoOverflow` instead."""
    if complete is not None and seed not in complete:
        raise EgoOverflow(seed)
    members = {seed}

    def stats(vset):
        w_in = 0.0
        w_bound = 0.0
        for u in vset:
            for v, w in adj[u].items():
                if v in vset:
                    w_in += w / 2.0  # each internal edge visited twice
                else:
                    w_bound += w
        return w_in, w_bound

    w_in, w_bound = stats(members)
    best_f = _cohesiveness(w_in, w_bound, len(members), penalty)
    while True:
        frontier = sorted(
            {v for u in members for v in adj[u] if v not in members}
        )
        candidates = [("add", v) for v in frontier] + [
            ("del", v) for v in sorted(members) if v != seed and len(members) > 1
        ]
        if complete is not None:
            for _, v in candidates:
                if v not in complete:
                    raise EgoOverflow(seed)
        step_best = None
        for op, v in candidates:
            w_v = sum(w for u, w in adj[v].items() if u in members)
            ext_v = sum(adj[v].values()) - w_v
            if op == "add":
                f = _cohesiveness(
                    w_in + w_v, w_bound - w_v + ext_v, len(members) + 1, penalty
                )
            else:
                f = _cohesiveness(
                    w_in - w_v, w_bound - ext_v + w_v, len(members) - 1, penalty
                )
            if f > best_f + 1e-12 and (step_best is None or f > step_best[0] + 1e-12):
                step_best = (f, op, v)
        if step_best is None:
            return frozenset(members)
        best_f, op, v = step_best
        members = members | {v} if op == "add" else members - {v}
        w_in, w_bound = stats(members)


def _overlap(a: frozenset, b: frozenset) -> float:
    inter = len(a & b)
    return (inter * inter) / (len(a) * len(b))


def _collect_adj(und: DataFrame) -> dict:
    """Full adjacency dict from the aggregated undirected edge list —
    the small-graph operating point (and the documented last-resort
    fallback of the ego path)."""
    adj: dict = defaultdict(dict)
    for r in und.collect():
        adj[r["a"]][r["b"]] = adj[r["a"]].get(r["b"], 0.0) + float(r["w"])
        adj[r["b"]][r["a"]] = adj[r["b"]].get(r["a"], 0.0) + float(r["w"])
    return adj


def _merge_overlaps(raw: list, overlap_threshold: float) -> list:
    """Transitive merge of accepted clusters with ω ≥ threshold (shared
    by the driver-adjacency and ego-delivery paths)."""
    merged = [set(c) for c in raw]
    changed = True
    while changed:
        changed = False
        for i in range(len(merged)):
            if merged[i] is None:
                continue
            for j in range(i + 1, len(merged)):
                if merged[j] is None:
                    continue
                if _overlap(frozenset(merged[i]), frozenset(merged[j])) >= overlap_threshold:
                    merged[i] |= merged[j]
                    merged[j] = None
                    changed = True
    return merged


def _ego_hops(sym: DataFrame, ball: DataFrame, frontier: DataFrame, hops: int):
    """Extend every seed's ``(block, seed, node)`` ball by ``hops`` BFS
    hops over the symmetric edge list ``sym (node, v, w)`` from its
    frontier (the nodes the last hop added).  Each hop's
    frontier is materialized and counted — the count is the job that
    computes it, and a 0 ends the hops early — then ``ball ∪ frontier``
    is materialized, so no hop re-derives an earlier one."""
    for _ in range(hops):
        nxt = frontier.join(sym, "node").select("block", "seed", F.col("v").alias("node")).distinct()
        frontier = materialize(nxt.join(ball, ["block", "seed", "node"], "left_anti"))
        if frontier.count() == 0:
            break
        ball = materialize(ball.unionByName(frontier))
    return ball, frontier


def _grow_ego_blocks(sym: DataFrame, ball: DataFrame, penalty: float) -> dict:
    """One ego-delivery round: join every block's ball union to its
    incident edge rows, and grow all of the block's seeds inside one
    cogrouped ``applyInPandas`` task.  A task never sees the full graph —
    only the edges incident to its block's ball nodes.  Returns
    ``{seed: (ok, members)}``; ``ok=False`` means growth escaped the
    delivered ball (EgoOverflow) and the caller must escalate the
    radius for that seed."""
    import pandas as pd

    edges_b = (
        ball.select("block", "node")
        .distinct()
        .join(sym, "node")
        # fresh attributes for block (block + 0) and node (alias u): the
        # cogroup below keys both sides on "block", and edges_b's columns
        # descend from ball's — a shared exprId would trip the
        # ambiguous-self-join check
        .select((F.col("block") + F.lit(0)).alias("block"), F.col("node").alias("u"), "v", "w")
    )

    def kernel(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        local: dict = defaultdict(dict)
        for u, v, w in right[["u", "v", "w"]].itertuples(index=False):
            local[u][v] = float(w)
        out = {"seed": [], "members": [], "ok": []}
        for s, grp in left.groupby("seed"):
            comp = set(grp["node"])
            try:
                mem = sorted(_grow(s, local, penalty, complete=comp))
                ok = True
            except EgoOverflow:
                mem, ok = [], False
            out["seed"].append(s)
            out["members"].append(mem)
            out["ok"].append(ok)
        return pd.DataFrame(out)

    rows = (
        ball.groupBy("block")
        .cogroup(edges_b.groupBy("block"))
        .applyInPandas(kernel, "seed string, members array<string>, ok boolean")
        .collect()
    )
    return {r["seed"]: (r["ok"], r["members"]) for r in rows}


def _cluster_one_ego(
    spark,
    und: DataFrame,
    penalty: float,
    overlap_threshold: float,
    min_size: int,
    min_density: float,
) -> DataFrame:
    """ClusterOne without any full-graph driver materialization: the
    driver holds only the node/degree list (O(V)), the grown sets and
    the final cluster stats; the edge list stays distributed.

    Growth runs under :func:`_grow_ego_blocks` with escalating radius
    (``EGO_RADIUS``, doubled per round ``EGO_MAX_DOUBLINGS`` times) for
    the seeds whose greedy escaped the delivered ball.  Each round
    carries the pending seeds' ``(ball, frontier)`` on and extends it by
    the radius difference, keeping each seed's round-1 block.  Any
    stubborn residue after the last escalation falls back to one
    full-adjacency collect — the documented exactness backstop, which
    warns.  Per-seed growth provably equals the
    broadcast path's (same adjacency values reach ``_grow``).  Final
    per-cluster w_in/w_bound/density are computed as distributed joins
    of the membership table against the edge list, replacing the
    driver-side adjacency walk.

    Float-ordering caveat (parity bound, not a bug): the seed ORDER
    comes from a distributed ``sum(w)`` degree whereas the driver path
    sums collected values in Python — two nodes whose true degrees
    differ by less than the accumulated rounding ulps could sort
    differently and shift the accept/skip replay; likewise the
    distributed stat sums could land on the other side of a
    ``round(·, 6)`` boundary.  Exact ties are safe (tie-break is the
    node key); only sub-ulp near-ties diverge — none exist in the
    parity fixtures, and at scale the output difference is bounded by
    that degeneracy, not by the strategy."""
    sym = (
        und.selectExpr("a AS node", "b AS v", "w")
        .unionByName(und.selectExpr("b AS node", "a AS v", "w"))
        .persist()
    )
    # try/finally: a kernel failure mid-growth must not leave the cached
    # union pinned for the session (sym is only needed during growth —
    # the final stats joins below read the smaller `und` directly)
    try:
        degree = {r["node"]: float(r["d"]) for r in sym.groupBy("node").agg(F.sum("w").alias("d")).collect()}
        seeds = sorted(degree, key=lambda u: (-degree[u], u))
        n_blocks = max(2, spark.sparkContext.defaultParallelism)

        ball = spark.createDataFrame(
            [(i % n_blocks, s, s) for i, s in enumerate(seeds)],
            "block int, seed string, node string",
        )
        frontier = ball
        grown_map: dict = {}
        pending = seeds
        reached = 0
        for rounds in range(EGO_MAX_DOUBLINGS + 1):
            if rounds:
                keep = spark.createDataFrame([(s,) for s in pending], "seed string")
                ball = ball.join(keep, "seed", "semi")
                frontier = frontier.join(keep, "seed", "semi")
            radius = EGO_RADIUS << rounds
            ball, frontier = _ego_hops(sym, ball, frontier, radius - reached)
            reached = radius
            for s, (ok, mem) in _grow_ego_blocks(sym, ball, penalty).items():
                if ok:
                    grown_map[s] = frozenset(mem)
            pending = [s for s in pending if s not in grown_map]
            if not pending:
                break
        if pending:
            # exactness backstop: growth for these seeds escaped every
            # escalated ball — rare (deep greedy walks), and the only point
            # where the ego path may touch the full edge list
            warnings.warn(
                f"cluster_one: {len(pending)} seeds escaped their radius-{reached} "
                "ego balls; growing them over the collected full adjacency",
                RuntimeWarning,
            )
            adj = _collect_adj(und)
            for s in pending:
                grown_map[s] = _grow(s, adj, penalty)
    finally:
        sym.unpersist()

    clustered: set = set()
    raw: list[frozenset] = []
    for seed in seeds:
        if seed in clustered:
            continue
        grown = grown_map[seed]
        raw.append(grown)
        clustered |= grown

    merged = _merge_overlaps(raw, overlap_threshold)
    cand = [frozenset(c) for c in merged if c is not None and len(c) >= min_size]
    if not cand:
        return spark.createDataFrame(
            [],
            "cluster_id long, member string, size long, density double, cohesiveness double",
        )

    memb = spark.createDataFrame(
        [(i, m) for i, c in enumerate(cand) for m in sorted(c)], "cid long, member string"
    )
    ma = memb.withColumnRenamed("member", "a")
    mb = memb.withColumnRenamed("member", "b")
    ea = und.join(ma, "a")  # (cid, a, b, w) with a ∈ cluster cid
    eb = und.join(mb, "b")  # (cid, a, b, w) with b ∈ cluster cid
    # ONE aggregated pass for all per-cluster stats (was three collects):
    # tag each a-side incidence internal/boundary with a membership left
    # join; the b-side contributes only its BOUNDARY rows (internal edges
    # already counted once from the a side); union → groupBy → collect.
    a_side = (
        ea.join(mb.withColumn("b_in", F.lit(True)), ["cid", "b"], "left")
        .select("cid", "w", F.coalesce("b_in", F.lit(False)).alias("internal"))
    )
    b_side = (
        eb.join(ma.withColumn("a_in", F.lit(True)), ["cid", "a"], "left")
        .where(F.col("a_in").isNull())
        .select("cid", "w", F.lit(False).alias("internal"))
    )
    stats_rows = (
        a_side.unionByName(b_side)
        .groupBy("cid")
        .agg(
            F.sum(F.when(F.col("internal"), F.col("w"))).alias("w_in"),
            F.count(F.when(F.col("internal"), F.lit(1))).alias("n_in"),
            F.sum(F.when(~F.col("internal"), F.col("w"))).alias("wb"),
        )
        .collect()
    )
    w_in = {r["cid"]: (float(r["w_in"] or 0.0), int(r["n_in"])) for r in stats_rows}
    w_bound: dict = defaultdict(float)
    for r in stats_rows:
        w_bound[r["cid"]] = float(r["wb"] or 0.0)

    final = []
    for i, vset in enumerate(cand):
        wi, n_in = w_in.get(i, (0.0, 0))
        density = _density(n_in, len(vset))
        if density < min_density:
            continue
        coh = _cohesiveness(wi, w_bound[i], len(vset), penalty)
        final.append((round(coh, 6), sorted(vset), len(vset), round(density, 6)))
    final.sort(key=lambda t: (-t[0], t[1]))
    rows = [
        (cid, member, size, density, coh)
        for cid, (coh, members, size, density) in enumerate(final)
        for member in members
    ]
    return spark.createDataFrame(
        rows,
        "cluster_id long, member string, size long, density double, cohesiveness double",
    )


def _grow_distributed(
    spark, adj: dict, seeds: list, penalty: float, n_blocks: int
) -> dict:
    """Seed-parallel growth: every seed grows in its own task against a
    broadcast adjacency (``_grow(seed)`` depends only on (seed, adj) —
    the sequential loop's ``clustered`` set decides only WHETHER a seed
    grows, never what it grows into, so growing all seeds up front and
    replaying the accept/skip decision driver-side reproduces the
    sequential output exactly).  Round-robin block assignment in
    degree-sorted order spreads the expensive high-degree seeds across
    blocks.  Some grows are wasted (their seed would have been skipped);
    that is the price of removing the driver-side CPU ceiling — the
    adjacency itself is one broadcast, the same memory the jar's
    single-node operating point needs."""
    import pandas as pd

    bc = spark.sparkContext.broadcast(dict(adj))

    def run(pdf: pd.DataFrame) -> pd.DataFrame:
        a = bc.value
        grown = [sorted(_grow(s, a, penalty)) for s in pdf["seed"]]
        return pd.DataFrame({"seed": pdf["seed"], "members": grown})

    sdf = spark.createDataFrame(
        [(i % n_blocks, s) for i, s in enumerate(seeds)],
        "block int, seed string",
    )
    rows = (
        sdf.repartition(n_blocks, "block")
        .groupBy("block")
        .applyInPandas(run, "seed string, members array<string>")
        .collect()
    )
    return {r["seed"]: frozenset(r["members"]) for r in rows}


def cluster_one(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    weight_col: str = "weight",
    penalty: float = 2.0,
    overlap_threshold: float = 0.8,
    min_size: int = 3,
    min_density: float = 0.5,
    ego_edge_threshold: int = 2_000_000,
) -> DataFrame:
    """Run the ClusterOne greedy over an undirected weighted edge list.

    Parallel/duplicate/self edges are aggregated distributed (undirected:
    (a,b) and (b,a) pool their weight) before any collect.  Returns one
    row per (cluster_id, member) with the cluster's size, density and
    cohesiveness; cluster_id is the rank by (-cohesiveness, members) so
    output is a pure function of the edge list.

    Triple strategy (the drivernet/rule-BFS pattern, one more rung):

    - ≤ ``SEED_PARALLEL_THRESHOLD`` seeds: driver-loop growth over the
      collected adjacency (the jar's single-node operating point);
    - more seeds, ≤ ``ego_edge_threshold`` aggregated edges: per-seed
      growth fans out over executors against a broadcast adjacency
      (:func:`_grow_distributed` — provably the same output);
    - above ``ego_edge_threshold``: ego-delivery
      (:func:`_cluster_one_ego`) — the full edge list is never
      collected OR broadcast; each task receives only its seed block's
      radius-bounded ego-network edges, with radius escalation plus a
      documented full-collect backstop guaranteeing exactness.  This
      removes the adjacency-memory ceiling the broadcast path carries.
    """
    spark = edges.sparkSession
    und = (
        edges.select(
            F.least(F.col(src_col), F.col(dst_col)).alias("a"),
            F.greatest(F.col(src_col), F.col(dst_col)).alias("b"),
            F.col(weight_col).cast("double").alias("w"),
        )
        .where(F.col("a") != F.col("b"))
        .groupBy("a", "b")
        .agg(F.sum("w").alias("w"))
        # the aggregate feeds the strategy-dispatch count AND (small
        # path) the adjacency collect / (ego path) the BFS + stats
        # joins — persist so the edge aggregation runs once
        .persist()
    )
    try:
        if und.count() > ego_edge_threshold:
            return _cluster_one_ego(
                spark, und, penalty, overlap_threshold, min_size, min_density
            )
        adj = _collect_adj(und)
    finally:
        und.unpersist()

    degree = {u: sum(nb.values()) for u, nb in adj.items()}
    seeds = sorted(degree, key=lambda u: (-degree[u], u))
    grown_map: dict = {}
    if len(seeds) > SEED_PARALLEL_THRESHOLD:
        n_blocks = max(2, spark.sparkContext.defaultParallelism)
        grown_map = _grow_distributed(spark, adj, seeds, penalty, n_blocks)
    clustered: set = set()
    raw: list[frozenset] = []
    for seed in seeds:
        if seed in clustered:
            continue
        grown = grown_map.get(seed)
        if grown is None:
            grown = _grow(seed, adj, penalty)
        raw.append(grown)
        clustered |= grown

    # merge overlapping clusters transitively (ω ≥ threshold)
    merged = _merge_overlaps(raw, overlap_threshold)
    final = []
    for c in merged:
        if c is None or len(c) < min_size:
            continue
        vset = frozenset(c)
        w_in = sum(
            w for u in vset for v, w in adj[u].items() if v in vset
        ) / 2.0
        w_bound = sum(
            w for u in vset for v, w in adj[u].items() if v not in vset
        )
        n_in = sum(1 for u in vset for v in adj[u] if v in vset) // 2
        density = _density(n_in, len(vset))
        if density < min_density:
            continue
        coh = _cohesiveness(w_in, w_bound, len(vset), penalty)
        final.append((round(coh, 6), sorted(vset), len(vset), round(density, 6)))
    final.sort(key=lambda t: (-t[0], t[1]))
    rows = [
        (cid, member, size, density, coh)
        for cid, (coh, members, size, density) in enumerate(final)
        for member in members
    ]
    return spark.createDataFrame(
        rows,
        "cluster_id long, member string, size long, density double, cohesiveness double",
    )
