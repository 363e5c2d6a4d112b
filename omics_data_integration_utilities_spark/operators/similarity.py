"""Similarity search over embedding columns (north-star surface).

Brute-force cosine top-k as the exact baseline, plus an LSH (random
hyperplane) bucketed variant as the 100 TB path.  Dot products use
``zip_with`` + ``aggregate`` higher-order functions — JVM-side, no UDF, no
explode of the vector.

Scale notes: the brute-force path broadcasts the (small) query set and
scans the corpus once — linear, shuffle-free until the final top-k window
on the query key.  The LSH path assigns each vector to a bucket via sign
bits of random-hyperplane projections (deterministic hyperplanes derived
from md5 so reruns agree), then searches only within buckets.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _dbl(col: Column) -> Column:
    return F.transform(col, lambda x: x.cast("double"))


def dot_col(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v
    )


def norm_col(a: Column) -> Column:
    return F.sqrt(F.aggregate(F.transform(a, lambda x: x * x), F.lit(0.0), lambda acc, v: acc + v))


def cosine_col(a: Column, b: Column) -> Column:
    da, db = _dbl(a), _dbl(b)
    return dot_col(da, db) / (norm_col(da) * norm_col(db))


def _with_unit(df: DataFrame, vec_col: str, id_col: str, id_alias: str, v_alias: str) -> DataFrame:
    """(id, doubled vector, norm) — norms computed ONCE per row, not per
    pair (the naive cosine-per-pair recomputes both norms |pairs| times)."""
    v = _dbl(F.col(vec_col))
    return df.select(
        F.col(id_col).alias(id_alias),
        v.alias(v_alias),
        norm_col(v).alias(f"{v_alias}_norm"),
    )


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 5,
    score_digits: int = 6,
) -> DataFrame:
    """Exact cosine top-k: broadcast queries × scan corpus → window top-k.

    Norms are precomputed per row; the per-pair work is one dot product.
    Scores are rounded before ranking so ordering (and the oracle
    comparison) is stable across summation orders; ties break on candidate
    id.
    """
    n_part = corpus.sparkSession.sparkContext.defaultParallelism
    q = _with_unit(queries, vec_col, id_col, "query_id", "__qv")
    c = _with_unit(corpus, vec_col, id_col, "cand_id", "__cv").repartition(n_part)
    scored = (
        c.crossJoin(F.broadcast(q))
        .where(F.col("cand_id") != F.col("query_id"))
        .select(
            "query_id",
            "cand_id",
            F.round(
                dot_col(F.col("__qv"), F.col("__cv"))
                / (F.col("__qv_norm") * F.col("__cv_norm")),
                score_digits,
            ).alias("score"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("score").desc(), F.col("cand_id").asc())
    return scored.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= k)


def cosine_neardup_pairs(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    min_cosine: float = 0.95,
    score_digits: int = 6,
) -> DataFrame:
    """All pairs (a < b) with cosine ≥ threshold — exact O(n²) reference
    implementation; use :func:`lsh_bucketed_neardup` when n² is infeasible.

    Norms precomputed per row; the left side is repartitioned so the
    quadratic pair space spreads across cores instead of one task."""
    n_part = df.sparkSession.sparkContext.defaultParallelism
    a = _with_unit(df, vec_col, id_col, "id_a", "__va").repartition(n_part)
    b = _with_unit(df, vec_col, id_col, "id_b", "__vb")
    return (
        a.crossJoin(F.broadcast(b))
        .where(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.round(
                dot_col(F.col("__va"), F.col("__vb"))
                / (F.col("__va_norm") * F.col("__vb_norm")),
                score_digits,
            ).alias("cosine"),
        )
        .where(F.col("cosine") >= min_cosine)
    )


# hard cap on the rows any GEMM path may collect to the driver: at a
# typical dim 64 float64 this is ~512 MB of matrix — the documented
# "one side fits in memory" contract, now MEASURED instead of trusted
# (the r12 pair-relation lesson: never let a planner guess or a caller
# assumption size a driver-side collect)
GEMM_MAX_BUILD_ROWS = 1_000_000


def _ids_matrix(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    max_rows: int = GEMM_MAX_BUILD_ROWS,
    caller: str = "cosine_neardup_np",
):
    """Collect (ids, float64 matrix, norms) for the broadcastable side.

    Measured-size guard: collects at most ``max_rows + 1`` rows (one
    job — the limit IS the measurement) and fails fast if the side
    exceeds the cap, naming the bucketed alternative, instead of
    silently OOMing the driver."""
    import numpy as np

    pdf = df.select(id_col, vec_col).limit(int(max_rows) + 1).toPandas()
    if len(pdf) > max_rows:
        raise ValueError(
            f"{caller}: GEMM build side exceeds max_rows={max_rows} — this "
            "path collects one side to the driver by contract; use "
            "lsh_bucketed_neardup (bucket-confined comparisons) or the IVF "
            "index for corpora this large, or raise the cap via the "
            "caller's max_build_rows / max_query_rows parameter."
        )
    ids = pdf[id_col].to_numpy()
    if len(ids) == 0:
        empty = np.zeros((0, 0), dtype="float64")
        return ids, empty, np.zeros(0, dtype="float64")
    m = np.vstack(pdf[vec_col].to_numpy()).astype("float64")
    return ids, m, np.linalg.norm(m, axis=1)


def cosine_neardup_np(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    min_cosine: float = 0.95,
    score_digits: int = 6,
    max_build_rows: int = GEMM_MAX_BUILD_ROWS,
) -> DataFrame:
    """GEMM-backed all-pairs cosine near-dup: one side broadcast as a numpy
    matrix, the other streamed in Arrow batches through ``mapInPandas`` —
    each batch is a BLAS matrix multiply instead of |pairs|·dim interpreted
    lambda evaluations (~50× over the expression form on dense vectors).

    Valid while one side fits in executor memory (n·dim·8 bytes); beyond
    that use :func:`lsh_bucketed_neardup` to confine comparisons to
    buckets.  Result identical to :func:`cosine_neardup_pairs`.
    """
    import numpy as np
    import pandas as pd

    spark = df.sparkSession
    ids, m, norms = _ids_matrix(
        df, id_col, vec_col, max_rows=max_build_rows, caller="cosine_neardup_np"
    )
    bc = spark.sparkContext.broadcast((ids, m, norms))
    n_part = spark.sparkContext.defaultParallelism

    def run(batches):
        ids_b, m_b, n_b = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            a = np.vstack(pdf[vec_col].to_numpy()).astype("float64")
            an = np.linalg.norm(a, axis=1)
            s = np.round((a @ m_b.T) / np.outer(an, n_b), score_digits)
            aid = pdf[id_col].to_numpy()
            mask = (s >= min_cosine) & (aid[:, None] < ids_b[None, :])
            ii, jj = np.nonzero(mask)
            yield pd.DataFrame(
                {"id_a": aid[ii], "id_b": ids_b[jj], "cosine": s[ii, jj]}
            )

    return df.repartition(n_part).mapInPandas(
        run, schema="id_a long, id_b long, cosine double"
    )


def brute_force_topk_np(
    corpus: DataFrame,
    queries: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 5,
    score_digits: int = 6,
    max_query_rows: int = GEMM_MAX_BUILD_ROWS,
) -> DataFrame:
    """GEMM-backed exact cosine top-k: the (small) query matrix broadcasts;
    the corpus streams through ``mapInPandas`` scoring a batch per BLAS
    call; a final window takes top-k per query.  Result identical to
    :func:`brute_force_topk`."""
    import numpy as np
    import pandas as pd

    spark = corpus.sparkSession
    qids, qm, qn = _ids_matrix(
        queries, id_col, vec_col, max_rows=max_query_rows,
        caller="brute_force_topk_np (query side)",
    )
    bc = spark.sparkContext.broadcast((qids, qm, qn))
    n_part = spark.sparkContext.defaultParallelism

    def run(batches):
        ids_q, m_q, n_q = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            c = np.vstack(pdf[vec_col].to_numpy()).astype("float64")
            cn = np.linalg.norm(c, axis=1)
            s = np.round((c @ m_q.T) / np.outer(cn, n_q), score_digits)
            cid = pdf[id_col].to_numpy()
            mask = cid[:, None] != ids_q[None, :]
            ii, jj = np.nonzero(mask)
            yield pd.DataFrame(
                {"query_id": ids_q[jj], "cand_id": cid[ii], "score": s[ii, jj]}
            )

    scored = corpus.repartition(n_part).mapInPandas(
        run, schema="query_id long, cand_id long, score double"
    )
    w = Window.partitionBy("query_id").orderBy(F.col("score").desc(), F.col("cand_id").asc())
    return scored.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= k)


def lloyd_refine_distributed(
    df: DataFrame,
    centroids,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    iterations: int = 2,
) -> "object":
    """Distributed Lloyd refinement over the FULL corpus — the 100 TB
    training path when the bounded driver sample under-represents the
    distribution.  Each iteration broadcasts the (tiny) centroid matrix,
    computes per-partition partial sums/counts per list inside one
    Arrow-batched ``mapInPandas`` pass (driver never sees vectors), then
    reduces the n_lists×dim partials with a groupBy — the only collect
    is n_lists×dim scalars.

    OPT-IN (``ivf_assign(full_refine_iterations=N)``), not wired into
    the registered oracle queries: cross-partition float-sum order makes
    the refined centroids deterministic only up to ulps, which is the
    right trade for quality at scale but not for bit-pinned digests.
    Empty lists keep their previous centroid (standard Lloyd)."""
    import numpy as np
    import pandas as pd

    spark = df.sparkSession
    cents = np.asarray(centroids, dtype="float64").copy()
    n_lists, dim = cents.shape
    src = df.select(F.col(id_col), F.col(vec_col))
    for _ in range(int(iterations)):
        bc = spark.sparkContext.broadcast(cents)

        def partials(batches):
            cc = bc.value
            sums = np.zeros((n_lists, dim))
            counts = np.zeros(n_lists, dtype="int64")
            seen = False
            for pdf in batches:
                if not len(pdf):
                    continue
                a = np.vstack(pdf[vec_col].to_numpy()).astype("float64")
                d2 = ((a[:, None, :] - cc[None, :, :]) ** 2).sum(axis=2)
                asn = d2.argmin(axis=1)
                np.add.at(sums, asn, a)
                counts += np.bincount(asn, minlength=n_lists)
                seen = True
            if seen:
                # long form: one (list, pos, value) row per dimension,
                # plus the count as a pos=-1 sentinel row — the reduce
                # below is then ONE flat sum aggregation, no per-list
                # array buffers (a collect_list over partition partials
                # would hold #partitions × dim doubles per group)
                lid = np.repeat(np.arange(n_lists, dtype="int64"), dim + 1)
                pos = np.tile(np.arange(-1, dim, dtype="int64"), n_lists)
                val = np.concatenate(
                    [np.concatenate(([float(counts[i])], sums[i])) for i in range(n_lists)]
                )
                yield pd.DataFrame({"list_id": lid, "pos": pos, "v": val})

        # reduce the per-partition partials in ONE action (the corpus
        # scan is the dominant cost — a second collect would rerun it):
        # a flat sum per (list, pos); pos=-1 carries the count
        rows = (
            src.mapInPandas(partials, schema="list_id long, pos long, v double")
            .groupBy("list_id", "pos")
            .agg(F.sum("v").alias("sv"))
            .collect()
        )
        bc.unpersist()
        new_sums = np.zeros((n_lists, dim))
        new_counts = np.zeros(n_lists)
        for r in rows:
            if r["pos"] < 0:
                new_counts[r["list_id"]] = r["sv"]
            else:
                new_sums[r["list_id"], r["pos"]] = r["sv"]
        nz = new_counts > 0
        cents[nz] = new_sums[nz] / new_counts[nz, None]
    return cents


def ivf_assign(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_lists: int = 16,
    lloyd_iterations: int = 2,
    sample_fraction: float | None = None,
    max_train_rows: int = 100_000,
    full_refine_iterations: int = 0,
) -> tuple[DataFrame, "object"]:
    """IVF coarse quantizer: deterministic k-means-lite centroids, vectors
    assigned to their nearest list.

    Centroid training runs driver-side on a (deterministic, BOUNDED)
    sample — never the full corpus: ``sample_fraction=None`` sizes the
    hash-sample so at most ``max_train_rows`` rows are collected, however
    large the corpus (centroid quality needs only a representative sample;
    collecting everything was the one driver-OOM path in the module).
    Centroids are tiny (n_lists × dim); assignment is one GEMM pass over
    the corpus via ``mapInPandas``.  Returns (assigned_df, centroids)
    where assigned_df = input + ``list_id``.
    """
    import numpy as np
    import pandas as pd

    spark = df.sparkSession
    if sample_fraction is None:
        # no full-corpus count: a fixed-modulus hash stratum (~1/1024 of the
        # corpus, deterministic in the ids), then the max_train_rows rows
        # with the SMALLEST secondary hash (id tie-break).  orderBy+limit
        # compiles to TakeOrderedAndProject — a distributed top-k over the
        # stratum, never a full sort — and unlike bare limit() the result
        # is a pure function of the ids, so centroids are reproducible
        # across runs/partitionings even when the stratum exceeds the cap.
        src = (
            df.where(F.pmod(F.xxhash64(F.col(id_col)), F.lit(1024)) == 0)
            .orderBy(F.xxhash64(F.col(id_col), F.lit(7)).asc(), F.col(id_col).asc())
            .limit(max_train_rows)
        )
    else:
        src = df
        if sample_fraction < 1.0:
            # deterministic sample: hash of id; modulus 1e6 so a fraction as
            # small as 1e-6 (corpus ~1e11 rows at max_train_rows=1e5) still
            # selects a nonempty stratum instead of flooring to zero
            src = df.where(
                F.pmod(F.xxhash64(F.col(id_col)), F.lit(1_000_000))
                < max(1, int(sample_fraction * 1_000_000))
            )
        # BOUNDED regardless of the requested fraction: the same
        # smallest-secondary-hash top-k cap as the auto path — below the
        # cap this keeps exactly the same row set (training sorts by id,
        # so the collect order is irrelevant), above it driver memory
        # stays fixed instead of scaling with the corpus
        src = src.orderBy(
            F.xxhash64(F.col(id_col), F.lit(7)).asc(), F.col(id_col).asc()
        ).limit(max_train_rows)
    ids, m, _ = _ids_matrix(
        src, id_col, vec_col, max_rows=max_train_rows, caller="ivf_assign"
    )
    if len(ids) < n_lists:
        # degenerate sample (tiny corpus or over-aggressive fraction):
        # take a bounded prefix instead — still never the full corpus
        ids, m, _ = _ids_matrix(
            df.limit(max_train_rows),
            id_col,
            vec_col,
            max_rows=max_train_rows,
            caller="ivf_assign",
        )
    if len(ids) == 0:
        raise ValueError("ivf training: corpus is empty — no vectors to cluster")
    order = np.argsort(ids)
    m = m[order]
    # seeds: evenly spaced rows of the id-sorted sample (deterministic)
    seeds = m[np.linspace(0, len(m) - 1, n_lists).astype(int)]
    cents = seeds.copy()
    for _ in range(lloyd_iterations):
        d2 = ((m[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
        assign = d2.argmin(axis=1)
        for c in range(n_lists):
            members = m[assign == c]
            if len(members):
                cents[c] = members.mean(axis=0)
    if full_refine_iterations:
        # 100 TB path: refine the sample-trained centroids over the full
        # corpus without materializing it anywhere (see
        # lloyd_refine_distributed for the determinism trade)
        cents = lloyd_refine_distributed(
            df, cents, vec_col=vec_col, id_col=id_col,
            iterations=full_refine_iterations,
        )
    assigned = _assign_to_centroids(df, cents, vec_col)
    return assigned, cents


def _assign_to_centroids(df: DataFrame, cents, vec_col: str) -> DataFrame:
    """The shared nearest-centroid assignment kernel (build-time AND
    extend-time — one generation, one quantizer means one kernel):
    broadcast the tiny centroid matrix, argmin each Arrow batch, append
    ``list_id``."""
    import numpy as np

    bc = df.sparkSession.sparkContext.broadcast(cents)

    def run(batches):
        cc = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            a = np.vstack(pdf[vec_col].to_numpy()).astype("float64")
            d2 = ((a[:, None, :] - cc[None, :, :]) ** 2).sum(axis=2)
            out = pdf.copy()
            out["list_id"] = d2.argmin(axis=1).astype("int64")
            yield out

    fields = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields
    )
    return df.mapInPandas(run, schema=f"{fields}, list_id long")


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 5,
    n_lists: int = 16,
    n_probes: int = 4,
    score_digits: int = 6,
    sample_fraction: float | None = None,
    max_train_rows: int = 100_000,
    max_query_rows: int = GEMM_MAX_BUILD_ROWS,
) -> DataFrame:
    """IVF approximate cosine top-k: probe the ``n_probes`` nearest lists
    per query and GEMM only inside them — the scale path when the corpus
    no longer broadcasts.  Recall is tunable via n_probes/n_lists;
    ``n_probes == n_lists`` degenerates to exact brute force.

    Centroid training collects at most ``max_train_rows`` rows to the
    driver (hash-sampled, deterministic) — safe at any corpus size.
    """
    import numpy as np

    assigned, cents = ivf_assign(
        corpus,
        vec_col,
        id_col,
        n_lists,
        sample_fraction=sample_fraction,
        max_train_rows=max_train_rows,
    )
    return _probe_scored_topk(
        assigned, queries, cents, vec_col, id_col, k, n_probes, score_digits,
        max_query_rows=max_query_rows,
    )


def _probe_scored_topk(
    assigned: DataFrame,
    queries: DataFrame,
    cents,
    vec_col: str,
    id_col: str,
    k: int,
    n_probes: int,
    score_digits: int,
    respread: bool = False,
    max_query_rows: int = GEMM_MAX_BUILD_ROWS,
    return_candidates: bool = False,
) -> DataFrame:
    """The shared IVF probe kernel: nearest ``n_probes`` lists per query
    (driver-side against the tiny centroid matrix), candidates
    restricted to those lists — first by a pushed ``list_id`` filter
    (bucket/row-group pruning on a persisted index), then by the
    broadcast equi-join — cosine GEMM, window top-k.

    ``return_candidates=True`` (r16, the recall-certificate fast path)
    returns every scored candidate with ``__probe_rank`` — the position
    of its list in the query's nearest-list order — and SKIPS the top-k
    window.  Because the nearest-list order is ONE argsort of the same
    distance matrix, filtering ``__probe_rank < p`` reproduces exactly
    the candidate set a separate ``n_probes=p`` pass would scan, so one
    pass at the largest setting serves every smaller one."""
    import numpy as np

    spark = assigned.sparkSession
    qids, qm, _ = _ids_matrix(
        queries, id_col, vec_col, max_rows=max_query_rows,
        caller="ivf/ann probe (query batch)",
    )
    if len(qids) == 0:
        # a quiet interval's empty batch must yield an empty top-k
        # relation, not a numpy broadcast error in the serving loop —
        # with query_id/cand_id carrying the ACTUAL physical id dtypes
        # (the index preserves id_type: an int id column must not gain
        # a schema-conflicting bigint parquet file from a quiet batch)
        from pyspark.sql.types import (
            DoubleType,
            IntegerType,
            StructField,
            StructType,
        )

        tail = (
            StructField("__probe_rank", IntegerType())
            if return_candidates
            else StructField("rank", IntegerType())
        )
        return spark.createDataFrame(
            [],
            StructType(
                [
                    StructField("query_id", queries.schema[id_col].dataType),
                    StructField("cand_id", assigned.schema[id_col].dataType),
                    StructField("score", DoubleType()),
                    tail,
                ]
            ),
        )
    d2 = ((qm[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
    probe_lists = np.argsort(d2, axis=1)[:, :n_probes]
    # a local relation: createDataFrame(list) would slice this
    # driver-local list defaultParallelism ways, and materializing it
    # for the broadcast would pay one Python-worker round trip per slice
    from ..sources.readers import local_frame

    probes = local_frame(
        spark,
        [
            (int(qids[i]), [int(x) for x in probe_lists[i]])
            for i in range(len(qids))
        ],
        "query_id long, probe_lists array<long>",
    )
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("__qv")
    ).join(F.broadcast(probes), "query_id")
    probed = sorted({int(x) for row in probe_lists for x in row})
    c = assigned.select(
        F.col(id_col).alias("cand_id"), F.col(vec_col).alias("__cv"), "list_id"
    ).where(F.col("list_id").isin(probed))
    if respread:
        # a bucketed-table scan yields at most |probed buckets| tasks —
        # far fewer than the cores when n_lists is small — and the
        # per-pair cosine work downstream is the heavy part, so spread
        # the (pruned, small) candidate set across the cluster before
        # the pair fan-out.  The in-memory path skips this: its
        # partitioning is already corpus-wide.  (Measured: 16× corpus
        # probe 15.9 s bucket-bound → 4.5 s respread.)
        c = c.repartition(assigned.sparkSession.sparkContext.defaultParallelism)
    # candidates restricted to probed lists: equi-join on list_id
    # (posexplode carries the list's rank in the query's nearest-list
    # order — free in the normal path, the payload in the candidates one)
    pairs = (
        c.join(
            F.broadcast(
                q.select(
                    "query_id",
                    "__qv",
                    F.posexplode("probe_lists").alias("__probe_rank", "list_id"),
                )
            ),
            "list_id",
        )
        .where(F.col("cand_id") != F.col("query_id"))
    )
    scored = pairs.select(
        "query_id",
        "cand_id",
        F.round(cosine_col(F.col("__qv"), F.col("__cv")), score_digits).alias("score"),
        "__probe_rank",
    )
    if return_candidates:
        return scored
    w = Window.partitionBy("query_id").orderBy(F.col("score").desc(), F.col("cand_id").asc())
    return (
        scored.drop("__probe_rank")
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
    )


def hyperplane_bucket_col(vec_col: Column, dim: int, n_planes: int = 8) -> Column:
    """Deterministic random-hyperplane LSH bucket id (0..2^n_planes-1).

    Hyperplane components are pseudo-random in {-1,+1} derived from
    md5(plane,coord) — no RNG state, identical across runs and engines.
    """
    v = _dbl(vec_col)

    def plane_term(p: int):
        return lambda x, i: x * F.when(
            F.conv(F.substring(F.md5(F.concat_ws("_", F.lit(p), i)), 1, 15), 16, 10)
            .cast("long")
            .bitwiseAND(F.lit(1))
            == 1,
            F.lit(1.0),
        ).otherwise(F.lit(-1.0))

    bucket = F.lit(0).cast("long")
    for p in range(n_planes):
        proj = F.aggregate(
            F.zip_with(v, F.sequence(F.lit(0), F.lit(dim - 1)), plane_term(p)),
            F.lit(0.0),
            lambda acc, t: acc + t,
        )
        bucket = bucket + F.when(proj >= 0, F.lit(2**p).cast("long")).otherwise(F.lit(0).cast("long"))
    return bucket


def lsh_bucketed_neardup(
    df: DataFrame,
    dim: int,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    min_cosine: float = 0.95,
    n_planes: int = 8,
) -> DataFrame:
    """Approximate near-dup: bucket by hyperplane signs, compare only
    within buckets (misses pairs split by a plane — recall/cost dial is
    ``n_planes``).  One shuffle on the bucket id."""
    with_b = df.select(
        F.col(id_col), F.col(vec_col), hyperplane_bucket_col(F.col(vec_col), dim, n_planes).alias("__bkt")
    )
    a = with_b.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("__va"), "__bkt")
    b = with_b.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("__vb"), "__bkt")
    return (
        a.join(b, "__bkt")
        .where(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.round(cosine_col(F.col("__va"), F.col("__vb")), 6).alias("cosine"),
        )
        .where(F.col("cosine") >= min_cosine)
    )


def semantic_dedup(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.95,
    n_lists: int = 16,
    max_cluster: int = 100_000,
    sample_fraction: float | None = None,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): cluster the
    embedding space with the IVF coarse quantizer, then inside each
    cluster greedily keep the lowest-id vector of every cosine->=
    ``threshold`` group and drop the rest.  (The paper keeps one point
    per within-cluster duplicate group — which member is kept is a free
    choice; lowest id makes the result deterministic and
    partitioning-invariant.)

    Returns (id, list_id, keep, max_sim_to_kept): ``max_sim_to_kept`` is
    the similarity to the closest already-kept item at decision time
    (null for the first item of a cluster).

    Scale shape: training is the bounded hash-sample from ``ivf_assign``;
    assignment one GEMM ``mapInPandas`` pass; dedup one
    ``applyInPandas`` per cluster whose cost is |cluster|² dots — size
    ``n_lists`` to the corpus so clusters stay bounded (the paper also
    caps cluster size); ``max_cluster`` asserts the assumption instead
    of silently thrashing.  No driver-side pair state.
    """
    import numpy as np
    import pandas as pd

    if n_lists == 1:
        # exact single-list operating point: every vector lands in list 0
        # regardless of the centroid, so skip the quantizer training scan
        # (hash-stratum sort + collect) entirely — assignment is constant
        assigned = df.select(id_col, vec_col).withColumn(
            "list_id", F.lit(0).cast("long")
        )
    else:
        assigned, _ = ivf_assign(
            df.select(id_col, vec_col),
            vec_col,
            id_col,
            n_lists=n_lists,
            sample_fraction=sample_fraction,
        )

    def dedup_one(pdf: pd.DataFrame) -> pd.DataFrame:
        if len(pdf) > max_cluster:
            raise ValueError(
                f"semantic_dedup: cluster of {len(pdf)} exceeds max_cluster="
                f"{max_cluster}; raise n_lists for this corpus size"
            )
        pdf = pdf.sort_values(id_col, kind="mergesort").reset_index(drop=True)
        m = np.vstack(pdf[vec_col].to_numpy()).astype("float64")
        norms = np.linalg.norm(m, axis=1)
        norms[norms == 0.0] = 1.0
        u = m / norms[:, None]
        # kept rows accumulate in a preallocated contiguous buffer: a
        # fancy-indexed u[keep_rows] would COPY the whole kept matrix on
        # every iteration (O(n²·d) bytes of memcpy dwarfing the O(n²·d)
        # flops); the buffer slice is a view, so each step is one gemv
        kept_buf = np.empty_like(u)
        n_kept = 0
        keep = np.zeros(len(pdf), dtype=bool)
        max_sim = np.full(len(pdf), np.nan)
        for i in range(len(pdf)):
            if n_kept:
                sims = kept_buf[:n_kept] @ u[i]
                s = float(sims.max())
                max_sim[i] = s
                if s >= threshold:
                    continue
            keep[i] = True
            kept_buf[n_kept] = u[i]
            n_kept += 1
        return pd.DataFrame(
            {
                id_col: pdf[id_col],
                "list_id": pdf["list_id"],
                "keep": keep,
                "max_sim_to_kept": np.round(max_sim, 6),
            }
        )

    out_schema = f"{id_col} long, list_id long, keep boolean, max_sim_to_kept double"
    return assigned.groupBy("list_id").applyInPandas(dedup_one, schema=out_schema)


def diversity_sample(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n: int = 1000,
    n_lists: int = 16,
    max_cluster: int = 100_000,
    sample_fraction: float | None = None,
) -> DataFrame:
    """Greedy k-center (farthest-point traversal) coreset selection: pick
    ``n`` representatives that COVER the embedding space — the diversity
    counterpart of :func:`semantic_dedup` (which removes redundancy,
    this keeps informative spread; Sener & Savarese 2018's core-set
    active-learning selection, run per IVF cluster like SemDeDup runs
    its dedup).

    Budget split: ``n`` apportions over clusters proportionally to
    cluster size (largest-remainder via
    ``operators.sampling.mixture_quotas`` — same exact-rounding rule as
    the domain mixer; cluster ids are zero-padded before keying so
    remainder ties break in NUMERIC list_id order, not lexicographic
    string order), capped at cluster size with no redistribution.
    Within a cluster the classic greedy: seed = lowest id, then
    repeatedly take the point FARTHEST (cosine distance on unit
    vectors) from everything selected so far, ties to the lowest id —
    fully deterministic, 2-approximation of the optimal k-center cover.

    Scale shape: quantizer training is the bounded hash-sample from
    :func:`ivf_assign`; assignment one GEMM ``mapInPandas`` pass; the
    greedy is one ``applyInPandas`` per cluster at O(quota·|cluster|·d)
    flops (each pick one gemv against the running min-distance vector —
    never a pairwise matrix); the only driver state is the
    ``n_lists``-row cluster-count table the apportionment needs.

    Returns ONLY the selected rows: (id, list_id, pick_rank,
    min_dist) — ``min_dist`` is the cosine distance to the nearest
    earlier pick at selection time (null for each cluster's seed), a
    per-pick coverage radius the caller can threshold or monitor.
    """
    import numpy as np
    import pandas as pd

    from .sampling import mixture_quotas

    if n_lists == 1:
        assigned = df.select(id_col, vec_col).withColumn(
            "list_id", F.lit(0).cast("long")
        )
    else:
        assigned, _ = ivf_assign(
            df.select(id_col, vec_col),
            vec_col,
            id_col,
            n_lists=n_lists,
            sample_fraction=sample_fraction,
        )
        # the sizes collect below is an ACTION: without a checkpoint the
        # per-cluster greedy would re-run the whole assignment GEMM (and
        # the source scan) a second time — Spark never reuses results
        # across actions.  localCheckpoint materializes the assignment
        # once (executor block store, memory-and-disk); both the count
        # and the greedy read the materialized form.
        assigned = assigned.localCheckpoint(eager=False)
    sizes = {
        int(r["list_id"]): int(r["n"])
        for r in assigned.groupBy("list_id").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    if not sizes:
        raise ValueError("diversity_sample: corpus is empty")
    # zero-pad the stringified cluster ids: mixture_quotas breaks
    # remainder ties by key order, and '10' < '2' lexicographically —
    # padding makes the tie-break numeric once n_lists >= 10
    quotas = {
        int(k): q
        for k, q in mixture_quotas(
            {f"{k:09d}": float(v) for k, v in sizes.items()}, n
        ).items()
    }

    def pick_one(pdf: pd.DataFrame) -> pd.DataFrame:
        if len(pdf) > max_cluster:
            raise ValueError(
                f"diversity_sample: cluster of {len(pdf)} exceeds max_cluster="
                f"{max_cluster}; raise n_lists for this corpus size"
            )
        lid = int(pdf["list_id"].iloc[0])
        quota = min(quotas.get(lid, 0), len(pdf))
        if quota <= 0:
            return pd.DataFrame(
                {id_col: pd.Series(dtype="int64"),
                 "list_id": pd.Series(dtype="int64"),
                 "pick_rank": pd.Series(dtype="int64"),
                 "min_dist": pd.Series(dtype="float64")}
            )
        pdf = pdf.sort_values(id_col, kind="mergesort").reset_index(drop=True)
        m = np.vstack(pdf[vec_col].to_numpy()).astype("float64")
        norms = np.linalg.norm(m, axis=1)
        norms[norms == 0.0] = 1.0
        u = m / norms[:, None]
        sel = np.empty(quota, dtype=np.int64)
        dist_at_pick = np.full(quota, np.nan)
        sel[0] = 0  # seed: lowest id (pdf is id-sorted)
        mind = 1.0 - u @ u[0]
        mind[0] = -np.inf
        for r in range(1, quota):
            i = int(np.argmax(mind))  # first max = lowest id on ties
            sel[r] = i
            dist_at_pick[r] = mind[i]
            np.minimum(mind, 1.0 - u @ u[i], out=mind)
            mind[i] = -np.inf
        return pd.DataFrame(
            {
                id_col: pdf[id_col].to_numpy()[sel],
                "list_id": np.full(quota, lid, dtype=np.int64),
                "pick_rank": np.arange(quota, dtype=np.int64),
                "min_dist": np.round(dist_at_pick, 6),
            }
        )

    out_schema = f"{id_col} long, list_id long, pick_rank long, min_dist double"
    return assigned.groupBy("list_id").applyInPandas(pick_one, schema=out_schema)


def centroid_drift(
    df: DataFrame,
    vec_col: str = "embedding",
    group_col: str = "label",
) -> DataFrame:
    """Per-group embedding centroid vs the GLOBAL centroid — the
    distribution-shift monitor an embedding pipeline reads per
    source/day/model-version ("did this slice's embeddings move?").
    Returns (grp, n_vecs, cos_to_global) with cosine similarity of the
    two MEAN vectors, rounded to 6.

    Scale shape: ``posexplode`` fans each vector to dim rows (a
    constant ×dim, not data-squared), then everything is partial-agg
    groupBys over (group, pos) and (pos) — the centroids never
    materialize as arrays, and the cosine reduces over the dim-sized
    long form, so no driver collection and no UDF anywhere.
    """
    ex = df.select(
        F.col(group_col).alias("grp"),
        F.posexplode(F.col(vec_col)).alias("pos", "x"),
    )
    per = ex.groupBy("grp", "pos").agg(F.avg("x").alias("m"))
    glob = ex.groupBy("pos").agg(F.avg("x").alias("g"))
    counts = df.groupBy(F.col(group_col).alias("grp")).agg(
        F.count(F.lit(1)).alias("n_vecs")
    )
    dot = (
        per.join(glob, "pos")
        .groupBy("grp")
        .agg(
            F.sum(F.col("m") * F.col("g")).alias("__dot"),
            F.sqrt(F.sum(F.col("m") * F.col("m"))).alias("__nm"),
            F.sqrt(F.sum(F.col("g") * F.col("g"))).alias("__ng"),
        )
    )
    return (
        counts.join(dot, "grp")
        .select(
            "grp",
            "n_vecs",
            F.round(
                F.col("__dot") / (F.col("__nm") * F.col("__ng")), 6
            ).alias("cos_to_global"),
        )
    )


# ---------------------------------------------------------------------------
# persisted ANN index — the steady-state similarity-serving lifecycle,
# mirroring the dedup index (operators/dedup.py build/attach/probe): at
# 100 TB the corpus is clustered and list-assigned ONCE per generation,
# not re-trained and re-GEMMed per query batch.  The index is a bucketed
# external parquet table on list_id (probe scans read only the probed
# buckets — the pushed isin filter prunes at the bucket/row-group level)
# plus the tiny centroid matrix and a metadata record, all under one
# path so attach needs nothing but (name, path).


class AnnIndex:
    """Handle to a persisted IVF index: the bucketed ``<name>_lists``
    table (id, vector, list_id), the centroid matrix, and the layout
    metadata (bucket spec + the PHYSICAL column types, which the attach
    DDL must restate exactly)."""

    def __init__(
        self, name, path, n_lists, n_buckets, vec_col, id_col, centroids,
        id_type="bigint", vec_type="array<double>",
    ):
        self.name = name
        self.path = path
        self.n_lists = int(n_lists)
        self.n_buckets = int(n_buckets)
        self.vec_col = vec_col
        self.id_col = id_col
        self.centroids = centroids
        self.id_type = id_type
        self.vec_type = vec_type

    @property
    def lists_table(self) -> str:
        return f"{self.name}_lists"


_ANN_META_DIR = "_ann_index_meta"
_ANN_CENTROIDS_DIR = "_ann_centroids"


def _write_ann_sidecars(spark, idx: AnnIndex) -> None:
    """Persist the centroid matrix + metadata next to the lists table —
    ONE writer for build and extend so the sidecar format cannot drift
    between generations (the dedup index's ``_write_index_meta``
    discipline).  The stored column types are load-bearing: the attach
    DDL must declare the physical parquet types (a float32 embedding
    corpus attached as ARRAY<DOUBLE> breaks the first probe scan)."""
    import os as _os

    from ..sources.readers import local_frame

    (
        local_frame(
            spark,
            [
                (int(i), [float(x) for x in idx.centroids[i]])
                for i in range(len(idx.centroids))
            ],
            "list_id long, centroid array<double>",
        )
        .coalesce(1)
        .write.mode("overwrite")
        .parquet(_os.path.join(idx.path, _ANN_CENTROIDS_DIR))
    )
    (
        local_frame(
            spark,
            [
                (
                    idx.name, idx.n_lists, idx.n_buckets, idx.vec_col,
                    idx.id_col, idx.id_type, idx.vec_type,
                )
            ],
            "name string, n_lists int, n_buckets int, vec_col string, "
            "id_col string, id_type string, vec_type string",
        )
        .write.mode("overwrite")
        .json(_os.path.join(idx.path, _ANN_META_DIR))
    )


def build_ann_index(
    corpus: DataFrame,
    vec_col: str,
    id_col: str,
    name: str,
    path: str,
    n_lists: int = 16,
    n_buckets: int | None = None,
    sample_fraction: float | None = None,
    max_train_rows: int = 100_000,
) -> AnnIndex:
    """Cluster + assign the corpus once and persist it as a bucketed
    external table keyed by ``list_id``, with centroids + metadata next
    to the data.  ``n_buckets`` defaults to ``n_lists`` (one bucket per
    list — probe reads exactly the probed buckets); size it down for
    small corpora the same way as the dedup index (O(100 MB-1 GB) per
    bucket at target scale).  Centroid training is the same bounded
    deterministic sample as :func:`ivf_assign`."""
    from .dedup import _write_index_table

    spark = corpus.sparkSession
    nb = int(n_buckets) if n_buckets is not None else int(n_lists)
    assigned, cents = ivf_assign(
        corpus, vec_col, id_col, n_lists,
        sample_fraction=sample_fraction, max_train_rows=max_train_rows,
    )
    lists_df = assigned.select(F.col(id_col), F.col(vec_col), "list_id")
    idx = AnnIndex(
        name, path, n_lists, nb, vec_col, id_col, cents,
        id_type=dict(lists_df.dtypes)[id_col],
        vec_type=dict(lists_df.dtypes)[vec_col],
    )
    _write_index_table(lists_df, idx.lists_table, path, "list_id", nb)
    _write_ann_sidecars(spark, idx)
    return idx


def attach_ann_index(spark, name: str, path: str) -> AnnIndex:
    """Re-register an on-disk ANN index in THIS session's catalog — the
    same contract as ``attach_dedup_index``: the bucket spec AND column
    types live in the stored metadata (a wrong bucket count routes
    probe joins to wrong buckets; a wrong column type breaks the scan),
    and a same-name table registered elsewhere is refused rather than
    silently probed."""
    import os as _os

    import numpy as np

    from .dedup import _normalize_table_location, _registered_table_location

    meta = spark.read.json(_os.path.join(path, _ANN_META_DIR)).collect()[0]
    if str(meta["name"]) != name:
        raise ValueError(
            f"attach_ann_index: metadata at {path!r} names index "
            f"{meta['name']!r}, not {name!r}"
        )
    crows = (
        spark.read.parquet(_os.path.join(path, _ANN_CENTROIDS_DIR))
        .orderBy("list_id")
        .collect()
    )
    cents = np.asarray([r["centroid"] for r in crows], dtype="float64")
    idx = AnnIndex(
        name, path, int(meta["n_lists"]), int(meta["n_buckets"]),
        str(meta["vec_col"]), str(meta["id_col"]), cents,
        id_type=str(meta["id_type"]), vec_type=str(meta["vec_type"]),
    )
    table = idx.lists_table
    expect_loc = _os.path.join(path, table)
    if spark.catalog.tableExists(table):
        got = _registered_table_location(spark, table)
        if _normalize_table_location(got) != _normalize_table_location(expect_loc):
            raise ValueError(
                f"attach_ann_index: table {table!r} is already registered "
                f"at {got!r}, not {expect_loc!r} — drop it or attach under "
                f"a different name"
            )
    else:
        spark.sql(
            f"CREATE TABLE {table} "
            f"({idx.id_col} {idx.id_type}, {idx.vec_col} {idx.vec_type}, "
            f"list_id BIGINT) "
            f"USING parquet CLUSTERED BY (list_id) SORTED BY (list_id) "
            f"INTO {idx.n_buckets} BUCKETS "
            f"LOCATION \'{expect_loc}\'"
        )
    return idx


def ann_index_topk(
    spark,
    queries: DataFrame,
    index: AnnIndex,
    k: int = 5,
    n_probes: int = 4,
    score_digits: int = 6,
    max_query_rows: int = GEMM_MAX_BUILD_ROWS,
) -> DataFrame:
    """Top-k against a persisted :class:`AnnIndex` — result-identical to
    :func:`ivf_topk` at the same (n_lists, training, n_probes)
    configuration (asserted in tests), but the per-batch cost is
    O(probed buckets), never O(corpus): no re-training, no re-assignment,
    and the bucketed scan reads only the probed ``list_id`` buckets."""
    assigned = spark.table(index.lists_table)
    return _probe_scored_topk(
        assigned, queries, index.centroids, index.vec_col, index.id_col,
        k, n_probes, score_digits, respread=True,
        max_query_rows=max_query_rows,
    )


def extend_ann_index(
    index: AnnIndex,
    new_vecs: DataFrame,
    name: str,
    path: str,
    replace_ids: bool = False,
) -> AnnIndex:
    """Fold a batch of new vectors into the index, producing the next
    generation under a NEW name/path (blue-green, same contract as
    ``extend_dedup_index``: a shared name would unregister the
    generation live probes resolve by name; a shared path would clobber
    its metadata).

    The batch is assigned to the EXISTING centroids via the same kernel
    build-time assignment uses — that is the extension\'s definition:
    one generation, one quantizer.  Cost is O(index + batch): the old
    generation\'s lists table is read back as-is (already assigned),
    the batch pays one broadcast-centroid GEMM, and nothing is
    re-trained.  Re-train (``build_ann_index``) when drift accumulates
    — the centroid_drift monitor upstream is the signal for that.

    Ids are assumed NEW: an id already in the index would otherwise
    appear twice and occupy two top-k ranks with identical scores.
    ``replace_ids=True`` gives the extension MERGE semantics instead —
    the old generation\'s rows for the batch\'s ids are dropped before
    the union (one anti-join; the batch is small, so AQE broadcasts it
    and the lists scan is never shuffled — the upsert-snapshot bound).
    Re-assignment is automatic: the replacement vector lands in
    whichever list the SHARED quantizer puts it in."""
    import os as _os

    from .dedup import _normalize_table_location, _write_index_table

    # normalize before comparing: a trailing slash or relative spelling
    # of the SAME directory must not slip past the clobber guard
    same_path = _normalize_table_location(path) == _normalize_table_location(
        index.path
    )
    if name == index.name or same_path:
        raise ValueError(
            "extend_ann_index: the new generation needs a different "
            "name AND path (same-name write would unregister the "
            "generation being read; same-path write would clobber its "
            "metadata)"
        )
    spark = new_vecs.sparkSession
    vec_col, id_col = index.vec_col, index.id_col
    batch_assigned = _assign_to_centroids(new_vecs, index.centroids, vec_col)
    out_idx = AnnIndex(
        name, path, index.n_lists, index.n_buckets, vec_col, id_col,
        index.centroids, id_type=index.id_type, vec_type=index.vec_type,
    )
    old_lists = spark.table(index.lists_table).select(
        F.col(id_col), F.col(vec_col), "list_id"
    )
    if replace_ids:
        old_lists = old_lists.join(
            new_vecs.select(id_col).dropDuplicates([id_col]), id_col, "left_anti"
        )
    combined = old_lists.unionByName(
        batch_assigned.select(F.col(id_col), F.col(vec_col), "list_id")
    )
    _write_index_table(
        combined, out_idx.lists_table, path, "list_id", out_idx.n_buckets
    )
    _write_ann_sidecars(spark, out_idx)
    return out_idx


def ann_recall_certificate(
    spark,
    queries: DataFrame,
    index: AnnIndex,
    k: int = 5,
    probe_settings: tuple[int, ...] = (1, 2, 4, 8),
    score_digits: int = 6,
) -> DataFrame:
    """Recall@k certificate for a persisted :class:`AnnIndex` at its
    APPROXIMATE operating points — the index's service-level contract,
    computed in-plan (r13 verdict item 3).

    For each ``n_probes`` setting: probe the index, left-join the exact
    top-k (``n_probes = n_lists`` — provably exhaustive, same kernel),
    and fold per-query hit counts into one certificate row.  ``recall``
    is micro-averaged as ``sum(hits)/sum(exact)`` — a ratio of two
    exact integers, so the value is bit-deterministic across sessions
    and partitionings (a macro-average of per-query ratios would sum
    floats in shuffle order); ``min_recall`` is the worst single query,
    also an exact small-integer ratio.  The full-probe setting is
    always appended as the self-check row (recall exactly 1.0 or the
    exact-path machinery is broken).

    Scale: each probe pays O(probed buckets); the exact pass is one
    full index scan.  At 100 TB the certificate runs over a query
    SAMPLE (bounded by the GEMM query-batch guard) — recall is a
    statistical property, the sample estimates it.
    """
    settings = sorted({int(p) for p in probe_settings} | {index.n_lists})
    exact = (
        ann_index_topk(
            spark, queries, index, k=k, n_probes=index.n_lists,
            score_digits=score_digits,
        )
        .select("query_id", "cand_id")
        .localCheckpoint()  # reused by every setting below
    )
    # Per-setting probe passes (r17 revert of the r16 single-pass
    # rewrite, verdict item 1): deriving every setting from ONE
    # candidate pass at the largest setting + a conditional running-
    # count window measured SLOWER at every scale in load-matched
    # interleaved A/B (OPTIMIZATION_r17.md item 1: 0.86x at sf0.1, 0.65x at 16x —
    # old min 9.62s vs new 14.73s): the per-query window over the
    # O(queries x probed-corpus) candidate set sorts MORE rows than the
    # three smaller probe passes it replaced, and the gap WIDENS with
    # corpus size.  The filter-equivalence of the two forms stays
    # pinned in tests/test_similarity.py (the kernel keeps
    # return_candidates for callers that want raw candidates).
    certs = []
    for p in settings:
        # the full-probe setting IS the checkpointed exact relation —
        # re-probing it would pay a second exhaustive index scan to
        # compare a deterministic computation with itself
        approx = (
            exact
            if p == index.n_lists
            else ann_index_topk(
                spark, queries, index, k=k, n_probes=p,
                score_digits=score_digits,
            )
        )
        per_q = (
            exact.join(
                approx.select(
                    "query_id", "cand_id", F.lit(1).alias("__hit")
                ),
                ["query_id", "cand_id"],
                "left",
            )
            .groupBy("query_id")
            .agg(
                F.count(F.lit(1)).alias("n_exact"),
                F.sum(F.coalesce(F.col("__hit"), F.lit(0))).alias("n_hit"),
            )
        )
        certs.append(
            per_q.agg(
                F.count(F.lit(1)).alias("n_queries"),
                F.sum("n_exact").alias("n_exact"),
                F.sum("n_hit").alias("n_hit"),
                F.round(
                    F.sum("n_hit") / F.sum("n_exact"), 6
                ).alias("recall"),
                F.round(
                    F.min(F.col("n_hit") / F.col("n_exact")), 6
                ).alias("min_recall"),
            ).select(F.lit(p).cast("long").alias("n_probes"), "*")
        )
    out = certs[0]
    for c in certs[1:]:
        out = out.unionByName(c)
    return out
