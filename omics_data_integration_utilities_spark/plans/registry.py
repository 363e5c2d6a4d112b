"""Query registry: every implemented SURVEY §2 operator exposed as a
(spark_callable, oracle_sql) pair over the driver's testdata tables.

Conventions that keep the Spark result and the DuckDB oracle hash-equal:

- every computed column is aliased identically on both sides;
- timestamps are compared/bucketed as integer epoch seconds
  (``ts.cast('long')`` ⇔ ``epoch(ts)::BIGINT``) — timezone-proof;
- large floating sums aggregate in DECIMAL (exact in both engines) and are
  cast back to double, so both engines produce the *same* number before
  rounding; small/per-group float stats just round (6 digits);
- hashing is md5-based: ``conv(substr(md5(x),1,15),16,10)`` in Spark ⇔
  ``('0x'||substr(md5(x),1,15))::BIGINT`` in DuckDB;
- every window/dedup declares full tie-breaks (SURVEY §7: the reference's
  order-dependent dedups made deterministic).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators import aggregates as agg_ops
from ..operators import dedup as dedup_ops
from ..operators import filters as filter_ops
from ..operators import joins as join_ops
from ..operators import similarity as sim_ops
from ..operators import text as text_ops
from ..operators import windows as win_ops
from ..operators.constants import (
    EN_STOPWORDS,
    MINHASH_BANDS,
    MINHASH_P,
    MINHASH_PERMS,
    MINHASH_ROWS_PER_BAND,
    SIMHASH_BITS,
)
from ..session import materialize
from ..sources.readers import local_frame, read_parquet_table
from ..streaming.events import tumbling_event_agg
from .mass_annotation import DEFAULT_ADDUCTS, default_adducts, mass_annotation_plan


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return read_parquet_table(spark, f"{sf_dir}/{name}.parquet")


def _spread_scan(df: DataFrame) -> DataFrame:
    """Round-robin fan-out of a NARROW scan before CPU-heavy per-row work
    (guide §2.5 input skew).

    The local testdata parquet ships ONE row group per file, and a row
    group is the atomic split unit — so these scans plan as a single
    partition no matter what ``maxPartitionBytes``/``minPartitionNum``
    say, and everything up to the first exchange runs on one core while
    the rest idle.  Gated on the scan partition count so
    naturally-split production inputs skip the extra exchange entirely
    (measured r16: blanket fan-out regresses cheap shuffle-bound queries
    up to 1.6×, so apply ONLY where per-row compute dominates the added
    exchange).  The count is ESTIMATED from the file index (r17, verdict
    item 7) — the former ``df.rdd.getNumPartitions()`` forced a full
    plan-to-RDD translation per query build and pinned the split
    decision before AQE saw it; the gate assumes upstream writers
    produce roughly even splits (r16 ADVICE note).
    """
    from ..sources.readers import scan_split_estimate

    sc = df.sparkSession.sparkContext
    n = sc.defaultParallelism
    return df.repartition(n) if scan_split_estimate(df, n) < n else df


def _dec(col, scale: int = 4):
    """Exact-sum helper: aggregate in decimal, emerge as double."""
    return F.col(col).cast(f"decimal(18,{scale})") if isinstance(col, str) else col.cast(f"decimal(18,{scale})")


# lineitem/orders/events timestamps are TIMESTAMP_NTZ (timezone-free,
# micros): naive literals compare identically in Spark and DuckDB, and
# epoch_us(ts) in DuckDB ⇔ ts_event_micros in Spark.
TS_1998_01_01 = "timestamp_ntz'1998-01-01 00:00:00'"
TS_1998_09_02 = "timestamp_ntz'1998-09-02 00:00:00'" 

ADDUCTS_SQL_VALUES = ", ".join(
    f"('{n}', {m!r}, {mult!r})" for n, m, mult in DEFAULT_ADDUCTS
)

TRANSITIONS = [("t_plus5", 5.0), ("t_minus12p5", -12.5), ("t_plus0p3", 0.3)]
TRANSITIONS_SQL_VALUES = ", ".join(f"('{n}', {d!r})" for n, d in TRANSITIONS)


# --------------------------------------------------------------------------
# §2.4 aggregations
# --------------------------------------------------------------------------

def q_a1_group_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1 group-count (treatMassTransitions.py:35-43's dict loop)."""
    return agg_ops.group_count(_t(spark, sf_dir, "events"), ["event_type"], "n")


SQL_A1 = "SELECT event_type, count(*) AS n FROM events GROUP BY event_type"


def q_a3_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3 column sums & moments — TPC-H Q1 shape; decimal-exact sums."""
    li = _t(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate") <= F.expr(TS_1998_09_02)
    )
    disc_price = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(18,6)")
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(_dec("l_quantity")).cast("double").alias("sum_qty"),
            F.round(F.sum(_dec("l_extendedprice")).cast("double"), 2).alias("sum_base_price"),
            F.round(F.sum(disc_price).cast("double"), 4).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count(F.lit(1)).alias("n"),
        )
    )


SQL_A3 = """
SELECT l_returnflag, l_linestatus,
       CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
       round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE), 2) AS sum_base_price,
       round(CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE), 4) AS sum_disc_price,
       round(avg(l_quantity), 6) AS avg_qty,
       round(avg(l_discount), 6) AS avg_disc,
       count(*) AS n
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""


def q_a4_set_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4 set-union aggregate (gizmos.py:350-354) — canonical sorted join."""
    cust = _t(spark, sf_dir, "customer")
    grouped = cust.groupBy("c_nationkey").agg(
        F.array_join(
            F.array_sort(F.collect_set("c_mktsegment")), ";"
        ).alias("segments")
    )
    return grouped


SQL_A4 = """
SELECT c_nationkey,
       array_to_string(list_sort(list_distinct(list(c_mktsegment))), ';') AS segments
FROM customer GROUP BY c_nationkey
"""


def q_a6_argmin_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6/W2 deterministic arg-min per group (mapBaseRetroRules.py:164-171:
    smallest diameter per reaction_substrate, tie-broken)."""
    li = _t(spark, sf_dir, "lineitem")
    return win_ops.arg_extreme_dedup(
        li.select("l_orderkey", "l_linenumber", "l_quantity"),
        key_cols=["l_orderkey"],
        order_col="l_quantity",
        ascending=True,
        tie_break=["l_linenumber"],
    )


SQL_A6 = """
SELECT l_orderkey, l_linenumber, l_quantity FROM (
  SELECT l_orderkey, l_linenumber, l_quantity,
         row_number() OVER (PARTITION BY l_orderkey ORDER BY l_quantity ASC, l_linenumber ASC) AS rn
  FROM lineitem
) WHERE rn = 1
"""


def q_a9_na_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A9 per-group missing fraction (MethylMix Download_Preprocess.R:795)."""
    docs = _t(spark, sf_dir, "documents")
    return agg_ops.na_fraction(docs, ["source"], "lang").withColumn(
        "na_frac", F.round("na_frac", 6)
    )


SQL_A9 = """
SELECT source, round(avg(CASE WHEN lang IS NULL THEN 1 ELSE 0 END), 6) AS na_frac
FROM documents GROUP BY source
"""


# --------------------------------------------------------------------------
# §2.2 filters
# --------------------------------------------------------------------------

def q_p2_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P2 |value| >= cutoff predicate (gizmos.py:646-649)."""
    ev = _t(spark, sf_dir, "events")
    return filter_ops.threshold_filter(ev, "value", 400.0).select("event_id", "value")


SQL_P2 = "SELECT event_id, value FROM events WHERE abs(value) >= 400.0"


def q_p4_nonzero(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P4 drop zero transitions (pathMassTransitions.py:278-288)."""
    li = _t(spark, sf_dir, "lineitem")
    return filter_ops.nonzero_transition_filter(li, "l_discount").select(
        "l_orderkey", "l_linenumber", "l_discount"
    )


SQL_P4 = "SELECT l_orderkey, l_linenumber, l_discount FROM lineitem WHERE abs(l_discount) > 0"


def q_p5_remove_zeros(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P5 remove groups containing zeros (corrMultiomics.py:200-202)."""
    li = _t(spark, sf_dir, "lineitem")
    kept = filter_ops.remove_zeros(li, ["l_partkey"], "l_discount")
    return kept.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("n"))


SQL_P5 = """
SELECT l_partkey, count(*) AS n FROM lineitem
WHERE l_partkey NOT IN (SELECT DISTINCT l_partkey FROM lineitem WHERE l_discount = 0)
GROUP BY l_partkey
"""


def q_p6_mad_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P6 MAD>0 filter with exact medians (gizmos.py:15-25,121-130)."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        filter_ops.group_mad(li, ["l_partkey"], "l_quantity")
        .where(F.col("mad") > 0)
        .select("l_partkey", F.round("mad", 6).alias("mad"))
    )


SQL_P6 = """
WITH med AS (
  SELECT l_partkey, CAST(median(l_quantity) AS DOUBLE) AS m FROM lineitem GROUP BY l_partkey
), mad AS (
  SELECT l.l_partkey, CAST(median(abs(l.l_quantity - med.m)) AS DOUBLE) AS mad
  FROM lineitem l JOIN med ON l.l_partkey = med.l_partkey GROUP BY l.l_partkey
)
SELECT l_partkey, round(mad, 6) AS mad FROM mad WHERE mad > 0
"""


def q_p8_outlier_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P8 per-group z-score outlier flags (DriverNet
    getPatientOutlierMatrix.R:4-26)."""
    li = _t(spark, sf_dir, "lineitem")
    flagged = filter_ops.outlier_flags(li, ["l_partkey"], "l_extendedprice", threshold=1.5)
    return flagged.select("l_orderkey", "l_linenumber", "l_partkey", "outlier")


SQL_P8 = """
SELECT l_orderkey, l_linenumber, l_partkey,
       CASE WHEN sd IS NULL OR sd = 0 THEN FALSE
            ELSE abs(l_extendedprice - mu) >= 1.5 * sd END AS outlier
FROM (
  SELECT l_orderkey, l_linenumber, l_partkey, l_extendedprice,
         avg(l_extendedprice) OVER (PARTITION BY l_partkey) AS mu,
         stddev(l_extendedprice) OVER (PARTITION BY l_partkey) AS sd
  FROM lineitem
)
"""


# --------------------------------------------------------------------------
# §2.3 joins
# --------------------------------------------------------------------------

def q_j1_star_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1 inner equi-join chain; dims broadcast (Catalyst does it from
    stats, asserted in tests)."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    revenue = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(18,6)")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .where(F.col("r_name") == "ASIA")
        .groupBy("n_name")
        .agg(F.round(F.sum(revenue).cast("double"), 4).alias("revenue"))
    )


SQL_J1 = """
SELECT n_name,
       round(CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE), 4) AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
GROUP BY n_name
"""


def q_j4_band_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4 band join — grid-bucketed equi-join, the scalable rewrite of the
    reference's O(n·m) mass-window scan (queryMassNPDB_mod.py:127-141)."""
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_acctbal")
    supp = (
        _t(spark, sf_dir, "supplier")
        .select(
            "s_suppkey",
            "s_acctbal",
            (F.col("s_acctbal") - 1.0).alias("lo"),
            (F.col("s_acctbal") + 1.0).alias("hi"),
        )
    )
    joined = join_ops.band_join(
        cust, supp, point_col="c_acctbal", lo_col="lo", hi_col="hi", bucket_width=1.0
    )
    return joined.select(
        "c_custkey", "s_suppkey", F.round(F.col("c_acctbal") - F.col("s_acctbal"), 4).alias("delta")
    )


SQL_J4 = """
SELECT c_custkey, s_suppkey, round(c_acctbal - s_acctbal, 4) AS delta
FROM customer JOIN supplier
  ON c_acctbal BETWEEN s_acctbal - 1.0 AND s_acctbal + 1.0
"""


def q_j5_adduct_expand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J5 adduct cross-expansion (queryMassNPDB_mod.py:115-125)."""
    sig = _t(spark, sf_dir, "supplier").select(
        F.col("s_suppkey"), F.col("s_acctbal").alias("mz")
    )
    expanded = join_ops.adduct_expand(sig, default_adducts(spark), mz_col="mz", ppm=30.0)
    return expanded.select("s_suppkey", "Ion_name", F.round("mm", 6).alias("mm"))


SQL_J5 = f"""
SELECT s_suppkey, Ion_name, round((s_acctbal - Mass) / Mult, 6) AS mm
FROM supplier CROSS JOIN (VALUES {ADDUCTS_SQL_VALUES}) AS a(Ion_name, Mass, Mult)
WHERE (s_acctbal - Mass) / Mult > 0
"""


def q_j6_transition_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J6 self-join on computed rounded key (pathMassTransitions.py:196-224)
    — integer match key (price·10) so no cross-engine float-equality risk."""
    part = _t(spark, sf_dir, "part").select("p_partkey", "p_retailprice")
    trans = local_frame(spark, TRANSITIONS, "transition string, delta double")
    cand = (
        part.crossJoin(F.broadcast(trans))
        .withColumn(
            "match_key",
            F.round((F.col("p_retailprice") + F.col("delta")) * 10, 0).cast("long"),
        )
    )
    targets = part.select(
        F.round(F.col("p_retailprice") * 10, 0).cast("long").alias("match_key"),
        F.col("p_partkey").alias("product_partkey"),
    )
    return (
        cand.join(targets, "match_key")
        .where(F.col("p_partkey") != F.col("product_partkey"))
        .select("p_partkey", "transition", "product_partkey")
    )


SQL_J6 = f"""
WITH trans AS (SELECT * FROM (VALUES {TRANSITIONS_SQL_VALUES}) AS t(transition, delta)),
cand AS (
  SELECT p_partkey, transition, CAST(round((p_retailprice + delta) * 10, 0) AS BIGINT) AS match_key
  FROM part CROSS JOIN trans
),
targets AS (
  SELECT CAST(round(p_retailprice * 10, 0) AS BIGINT) AS match_key, p_partkey AS product_partkey FROM part
)
SELECT c.p_partkey, c.transition, t.product_partkey
FROM cand c JOIN targets t USING (match_key)
WHERE c.p_partkey != t.product_partkey
"""


def q_j7_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J7 semi-join via isin → left_semi (gizmos.py:348-365)."""
    part = _t(spark, sf_dir, "part")
    big = _t(spark, sf_dir, "lineitem").where(F.col("l_quantity") > 45)
    return part.join(big, part.p_partkey == big.l_partkey, "left_semi").select(
        "p_partkey", "p_name"
    )


SQL_J7 = """
SELECT p_partkey, p_name FROM part
WHERE EXISTS (SELECT 1 FROM lineitem WHERE l_partkey = p_partkey AND l_quantity > 45)
"""


def q_j8_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J8 anti-join via ~isin → left_anti (queryMassNPDB_mod.py:141).

    Right side filtered to early urgent orders so the anti-join is
    selective-but-nonempty at every scale factor (every customer has SOME
    order at sf≥0.01, which made the unfiltered version vacuous)."""
    cust = _t(spark, sf_dir, "customer")
    urgent_early = _t(spark, sf_dir, "orders").where(
        (F.col("o_orderpriority") == "1-URGENT")
        & (F.col("o_orderdate") < F.expr("timestamp_ntz'1997-01-01 00:00:00'"))
    )
    return cust.join(
        urgent_early, cust.c_custkey == urgent_early.o_custkey, "left_anti"
    ).select("c_custkey", "c_name")


SQL_J8 = """
SELECT c_custkey, c_name FROM customer
WHERE NOT EXISTS (
  SELECT 1 FROM orders
  WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT'
    AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
)
"""


def _j12_tables(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Shared DriverNet input triple (mutations, edges, outliers) —
    mutations(patient, gene), edges(src, dst), outliers(patient, gene)."""
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    joined = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(part, li.l_partkey == part.p_partkey)
    )
    # mutations, the outlier stats and the outlier join-back all re-derive
    # this 3-table join — without materialization the plan scans the
    # inputs 10 times (3 derivations x 3 tables + edges).  One eager
    # materialisation = one join pass; downstream reads are local.
    joined = materialize(
        joined.select("o_custkey", "p_brand", "p_type", "l_extendedprice"), eager=True
    )
    mutations = joined.select(
        F.col("o_custkey").alias("patient"), F.col("p_brand").alias("gene")
    ).distinct()
    edges = part.select(
        F.col("p_brand").alias("src"), F.col("p_type").alias("dst")
    ).distinct()
    # broadcast_stats=True: the stats table is one row per p_type (~150
    # at any TPC-H scale — the key is a fixed category vocabulary, not a
    # growing id space), but it sits above the checkpoint so the
    # static planner has no stats and picks a sort-merge join, shuffling
    # the full checkpointed relation on a 150-key column (skew by
    # construction).  The explicit broadcast keeps the big side unshuffled.
    flagged = filter_ops.outlier_flags(
        joined.select("o_custkey", "p_type", "l_extendedprice"),
        ["p_type"],
        "l_extendedprice",
        threshold=1.5,
        broadcast_stats=True,
    )
    outliers = (
        flagged.where(F.col("outlier"))
        .select(F.col("o_custkey").alias("patient"), F.col("p_type").alias("gene"))
        .distinct()
    )
    return mutations, edges, outliers


def _j12_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared J12 bipartite event construction (DriverNet Graph.R).

    expand_side="outliers" (r17, guide §2.3/§3.3): the edge vocabulary is
    150 distinct (brand, type) pairs.  Measured at sf0.1 (OPTIMIZATION_r17.md):
    fanning the mutation side out gives 1,737,498 / 289,583 ≈ 6 edges per
    mutation row, the outlier side 1,294,275 / 51,771 ≈ 25 per row, and
    |mutations| ≈ 5.6·|outliers| (every matched row mutates, only ±1.5σ
    rows outlie).  Expanding the outlier side feeds the patient-level
    exchange 1,294,275 + 289,583 rows instead of 1,737,498 + 51,771 —
    about 11% fewer rows, and narrower ones (3 columns) — with an
    identical result by inner-join reassociation (the r17 A/B and the
    unchanged oracle hash prove it).  Both fan-outs are fixed category
    vocabularies, so the per-row ratios hold at any TPC-H scale."""
    mutations, edges, outliers = _j12_tables(spark, sf_dir)
    return join_ops.bipartite_event_join(
        mutations, edges, outliers, expand_side="outliers"
    )


def q_j12_event_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J12 bipartite event join, aggregated to per-driver event counts."""
    return _j12_events(spark, sf_dir).groupBy("mut_gene").agg(
        F.count(F.lit(1)).alias("n_events")
    )


SQL_J12 = """
WITH joined AS (
  SELECT o.o_custkey, p.p_brand, p.p_type, l.l_extendedprice
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
                  JOIN part p ON l.l_partkey = p.p_partkey
),
mut AS (SELECT DISTINCT o_custkey AS patient, p_brand AS mut_gene FROM joined),
edges AS (SELECT DISTINCT p_brand AS mut_gene, p_type AS out_gene FROM part),
st AS (
  SELECT o_custkey, p_type, l_extendedprice,
         avg(l_extendedprice) OVER (PARTITION BY p_type) AS mu,
         stddev(l_extendedprice) OVER (PARTITION BY p_type) AS sd
  FROM joined
),
outl AS (
  SELECT DISTINCT o_custkey AS patient, p_type AS out_gene FROM st
  WHERE sd IS NOT NULL AND sd > 0 AND abs(l_extendedprice - mu) >= 1.5 * sd
),
ev AS (
  SELECT m.patient, m.mut_gene, e.out_gene
  FROM mut m JOIN edges e USING (mut_gene)
             JOIN outl o ON o.patient = m.patient AND o.out_gene = e.out_gene
)
SELECT mut_gene, count(*) AS n_events FROM ev GROUP BY mut_gene
"""


# --------------------------------------------------------------------------
# §2.5/2.6 windows, sorts, top-k
# --------------------------------------------------------------------------

def q_w1_mutual_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1 mutual rank MR = sqrt(r_ab·r_ba) (wcModules.py:167-209)."""
    li = _t(spark, sf_dir, "lineitem")
    pair = li.groupBy("l_suppkey", "l_partkey").agg(
        F.round(F.sum(_dec("l_extendedprice")).cast("double"), 2).alias("revenue")
    )
    ranked = win_ops.mutual_rank(pair, "l_suppkey", "l_partkey", "revenue")
    return ranked.select(
        "l_suppkey", "l_partkey", "rank_ab", "rank_ba", F.round("mr", 6).alias("mr")
    )


SQL_W1 = """
WITH pair AS (
  SELECT l_suppkey, l_partkey,
         round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE), 2) AS revenue
  FROM lineitem GROUP BY l_suppkey, l_partkey
)
SELECT l_suppkey, l_partkey,
       row_number() OVER (PARTITION BY l_suppkey ORDER BY revenue DESC, l_partkey ASC) AS rank_ab,
       row_number() OVER (PARTITION BY l_partkey ORDER BY revenue DESC, l_suppkey ASC) AS rank_ba,
       round(sqrt(rank_ab * rank_ba), 6) AS mr
FROM pair
"""


def q_w3_lag_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W3 ordered lag difference (MethylMix flip-over, MethylMix.R:458)."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    )
    return ev.select(
        "event_id", (F.col("value") - F.lag("value").over(w)).alias("diff")
    )


SQL_W3 = """
SELECT event_id,
       value - lag(value) OVER (PARTITION BY user_id ORDER BY epoch_us(ts) ASC, event_id ASC) AS diff
FROM events
"""


def q_o1_global_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O1/O2 global sort + limit with deterministic tie-break."""
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        .limit(100)
        .select("o_orderkey", "o_totalprice")
    )


SQL_O1 = """
SELECT o_orderkey, o_totalprice FROM orders
ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 100
"""


# --------------------------------------------------------------------------
# §2.7 set operations
# --------------------------------------------------------------------------

def q_u2_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U2 key-set intersection (corrMultiomics.py:206-208 sample align)."""
    orders = _t(spark, sf_dir, "orders")
    early = orders.where(F.col("o_orderdate") < F.expr(TS_1998_01_01)).select("o_custkey")
    late = orders.where(F.col("o_orderdate") >= F.expr(TS_1998_01_01)).select("o_custkey")
    return early.intersect(late)


SQL_U2 = """
SELECT o_custkey FROM orders WHERE o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
INTERSECT
SELECT o_custkey FROM orders WHERE o_orderdate >= TIMESTAMP '1998-01-01 00:00:00'
"""


def q_u3_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U3 key-set difference (wcModules.py:277-280)."""
    orders = _t(spark, sf_dir, "orders")
    early = orders.where(F.col("o_orderdate") < F.expr(TS_1998_01_01)).select("o_custkey")
    late = orders.where(F.col("o_orderdate") >= F.expr(TS_1998_01_01)).select("o_custkey")
    # subtract = SQL EXCEPT (set semantics); exceptAll would keep keys that
    # merely appear more often on the left
    return early.subtract(late)


SQL_U3 = """
SELECT DISTINCT o_custkey FROM orders WHERE o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
EXCEPT
SELECT DISTINCT o_custkey FROM orders WHERE o_orderdate >= TIMESTAMP '1998-01-01 00:00:00'
"""


# --------------------------------------------------------------------------
# §2.8 scalar functions
# --------------------------------------------------------------------------

def q_f2_substring_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F2 split-and-take parsing (gizmos.py:175-190 SMARTS split)."""
    part = _t(spark, sf_dir, "part")
    first = F.element_at(F.split(F.col("p_name"), " "), 1)
    return part.groupBy(first.alias("first_word")).agg(F.count(F.lit(1)).alias("n"))


SQL_F2 = """
SELECT (string_split(p_name, ' '))[1] AS first_word, count(*) AS n
FROM part GROUP BY first_word
"""


def q_f3_regex_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F3 regex rewrite (gizmos.py:237-244 SMARTS cleanup)."""
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", F.md5(F.regexp_replace(F.col("text"), "[aeiou]+", "_")).alias("rewritten_md5")
    )


SQL_F3 = """
SELECT doc_id, md5(regexp_replace(text, '[aeiou]+', '_', 'g')) AS rewritten_md5
FROM documents
"""


def q_f11_conditional_swap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F11 conditional column swap (heraldPathways.py:111-133 direction
    −1 substrate↔product)."""
    ev = _t(spark, sf_dir, "events").select(
        "event_id",
        F.col("user_id").alias("src"),
        F.col("event_id").alias("dst"),
        "event_type",
    )
    swap = F.col("event_type") == "error"
    return ev.select(
        "event_id",
        F.when(swap, F.col("dst")).otherwise(F.col("src")).alias("src"),
        F.when(swap, F.col("src")).otherwise(F.col("dst")).alias("dst"),
    )


SQL_F11 = """
SELECT event_id,
       CASE WHEN event_type = 'error' THEN event_id ELSE user_id END AS src,
       CASE WHEN event_type = 'error' THEN user_id ELSE event_id END AS dst
FROM events
"""


def q_f9_explode_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F9 explode (gizmos.py:667-672 one-pfam-per-row), top-20 tokens."""
    docs = _t(spark, sf_dir, "documents")
    counts = (
        docs.select(F.explode(F.split(F.col("text"), " ")).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return (
        counts.orderBy(F.col("n").desc(), F.col("token").asc()).limit(20)
    )


SQL_F9 = """
SELECT token, count(*) AS n FROM (
  SELECT unnest(string_split(text, ' ')) AS token FROM documents
) GROUP BY token ORDER BY n DESC, token ASC LIMIT 20
"""


# --------------------------------------------------------------------------
# correlation engine (A5/K6, §3.1 lifecycle)
# --------------------------------------------------------------------------

def q_k6_pairwise_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5/K6 Pearson correlation + t statistic per group
    (corrMultiomics.py:52-88), closed-form SQL path."""
    li = _t(spark, sf_dir, "lineitem")
    out = agg_ops.pairwise_corr(li, ["l_partkey"], "l_quantity", "l_discount", min_n=5)
    return (
        out.where(F.abs(F.col("r")) < 0.999999)
        .select("l_partkey", "n", F.round("r", 6).alias("r"), F.round("t", 6).alias("t"))
    )


SQL_K6 = """
WITH c AS (
  SELECT l_partkey, count(*) AS n, corr(l_quantity, l_discount) AS r
  FROM lineitem GROUP BY l_partkey
)
SELECT l_partkey, n, round(r, 6) AS r,
       round(r * sqrt((n - 2) / (1 - r * r)), 6) AS t
FROM c WHERE n >= 5 AND r IS NOT NULL AND abs(r) < 0.999999
"""


def q_k6_spearman(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5 Spearman via average-rank windows then Pearson
    (corrMultiomics.py spearman branch)."""
    li = _t(spark, sf_dir, "lineitem")
    out = agg_ops.pairwise_corr(
        li, ["l_partkey"], "l_quantity", "l_discount", min_n=5, method="spearman"
    )
    return (
        out.where(F.abs(F.col("r")) < 0.999999)
        .select("l_partkey", "n", F.round("r", 6).alias("rho"))
    )


SQL_K6_SPEARMAN = """
WITH ranked AS (
  SELECT l_partkey,
         rank() OVER (PARTITION BY l_partkey ORDER BY l_quantity ASC)
           + (count(*) OVER (PARTITION BY l_partkey, l_quantity) - 1) / 2.0 AS rx,
         rank() OVER (PARTITION BY l_partkey ORDER BY l_discount ASC)
           + (count(*) OVER (PARTITION BY l_partkey, l_discount) - 1) / 2.0 AS ry
  FROM lineitem
),
c AS (
  SELECT l_partkey, count(*) AS n, corr(rx, ry) AS r FROM ranked GROUP BY l_partkey
)
SELECT l_partkey, n, round(r, 6) AS rho
FROM c WHERE n >= 5 AND r IS NOT NULL AND abs(r) < 0.999999
"""


SQL_K6_CORR_PVALUE = """
WITH c AS (
  SELECT l_partkey, count(*) AS n, corr(l_quantity, l_discount) AS r
  FROM lineitem GROUP BY l_partkey
), base AS (
  SELECT l_partkey, n, r, n - 2 AS nu,
         abs(r) * sqrt((n - 2) / (1 - r * r)) AS t
  FROM c
  WHERE n >= 5 AND r IS NOT NULL AND abs(r) < 0.999999
), tx AS (
  SELECT *, nu / (nu + t * t) AS x,
         CASE WHEN nu % 2 = 0 THEN nu // 2 - 1 ELSE (nu - 3) // 2 END AS jmax
  FROM base
), js AS (
  SELECT l_partkey, nu, x, unnest(range(0, CAST(jmax AS BIGINT) + 1)) AS j
  FROM tx
), terms AS (
  SELECT l_partkey,
    CASE WHEN nu % 2 = 0
      THEN exp(lgamma(2 * j + 1.0) - 2 * lgamma(j + 1.0) - j * ln(4.0)) * pow(x, j)
      ELSE exp(j * ln(4.0) + 2 * lgamma(j + 1.0) - lgamma(2 * j + 2.0)) * pow(x, j)
    END AS term
  FROM js
), s AS (
  SELECT l_partkey, sum(term) AS ssum FROM terms GROUP BY l_partkey
)
SELECT b.l_partkey, b.n, round(b.r, 6) AS r,
  round(CASE WHEN b.nu % 2 = 0
    THEN 1 - b.t / sqrt(b.nu + b.t * b.t) * s.ssum
    ELSE 1 - 2 / pi() * (atan(b.t / sqrt(b.nu))
                         + b.t * sqrt(b.nu) / (b.nu + b.t * b.t) * s.ssum)
  END, 6) AS p
FROM tx b JOIN s USING (l_partkey)
"""


def q_k6_corr_pvalue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K6 with exact p-values from the numpy betainc t-tail (Arrow kernel).
    The DuckDB oracle evaluates the SAME Student-t tail through the exact
    finite closed forms for integer df (even: Ix series in ν/(ν+t²); odd:
    arctan + series) — an independent route, agrees with betainc to ~1e-14
    (property-tested in tests/test_properties.py)."""
    li = _t(spark, sf_dir, "lineitem")
    out = agg_ops.pairwise_corr(li, ["l_partkey"], "l_quantity", "l_discount", min_n=5)
    out = out.where(F.abs(F.col("r")) < 0.999999)
    return agg_ops.corr_pvalues(out).select(
        "l_partkey", "n", F.round("r", 6).alias("r"), F.round("p", 6).alias("p")
    )


# --------------------------------------------------------------------------
# the flagship plan (§3.2 lifecycle)
# --------------------------------------------------------------------------

MASS_PPM = 3000.0  # testdata price density needs a wider window than 30 ppm


def q_plan_mass_annotation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§3.2 queryMassNPDB pipeline: adduct expansion → ppm window → band
    join → deterministic best-adduct dedup.  Signatures = customers (their
    balance range overlaps the part price band at every scale factor, so
    the flagship is non-empty even at sf0.001)."""
    # probe side of the band join: adduct expansion + grid explode +
    # join probe are per-row CPU on what the testdata serves as a
    # 1-partition scan — fan out (no-op once the input is pre-split)
    sig = _spread_scan(_t(spark, sf_dir, "customer")).select(
        F.col("c_name").alias("ms_name"), F.col("c_acctbal").alias("mz")
    )
    structures = _t(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("structure_id"),
        F.col("p_retailprice").alias("monoisotopic_mass"),
    )
    return mass_annotation_plan(
        sig, structures, default_adducts(spark), ppm=MASS_PPM, bucket_width=4.0
    )


SQL_PLAN_MASS = f"""
WITH sig AS (SELECT c_name AS ms_name, c_acctbal AS mz FROM customer),
exp AS (
  SELECT ms_name, mz, Ion_name, (mz - Mass) / Mult AS mm
  FROM sig CROSS JOIN (VALUES {ADDUCTS_SQL_VALUES}) AS a(Ion_name, Mass, Mult)
  WHERE (mz - Mass) / Mult > 0
),
win AS (
  SELECT *, mm - mm * {MASS_PPM!r} / 1000000.0 AS mm_low,
            mm + mm * {MASS_PPM!r} / 1000000.0 AS mm_high
  FROM exp
),
m AS (
  SELECT w.ms_name, p.p_partkey AS structure_id, w.Ion_name,
         round(w.mm, 6) AS mm,
         round(abs(p.p_retailprice - w.mm) / w.mm * 1000000.0, 4) AS ppm_error
  FROM win w JOIN part p
    ON p.p_retailprice >= w.mm_low AND p.p_retailprice <= w.mm_high
)
SELECT ms_name, structure_id, Ion_name, mm, ppm_error FROM (
  SELECT *, row_number() OVER (PARTITION BY ms_name, structure_id
                               ORDER BY ppm_error ASC, Ion_name ASC) AS rn
  FROM m
) WHERE rn = 1
"""


# --------------------------------------------------------------------------
# event-time windows
# --------------------------------------------------------------------------

def q_events_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling-window event aggregation (streaming/events.py)."""
    return tumbling_event_agg(_t(spark, sf_dir, "events"), 3600)


SQL_EVENTS_TUMBLING = """
SELECT epoch_us(ts) // 3600000000 AS bucket, event_type,
       count(*) AS n, round(sum(value), 4) AS sum_value
FROM events GROUP BY bucket, event_type
"""


def q_events_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join over the events feed: every click matched to the most
    recent purchase by the same user at-or-before it (null when none
    precedes).  The right side pre-aggregates to one row per
    (user, timestamp) — argmax by event_id, the uniqueness contract —
    before the union-window composition in ``operators.joins.asof_join``.
    Oracle = DuckDB's native ASOF LEFT JOIN."""
    from ..operators.joins import asof_join
    from ..streaming.events import ts_event_micros_sql

    ev = _t(spark, sf_dir, "events")
    us = F.expr(ts_event_micros_sql(ev))
    left = ev.where(F.col("event_type") == "click").select(
        "event_id", "user_id", us.alias("us"), "value"
    )
    right = (
        ev.where(F.col("event_type") == "purchase")
        .select("user_id", us.alias("us"), "event_id", "value")
        .groupBy("user_id", "us")
        .agg(F.max(F.struct("event_id", "value")).getField("value").alias("rv"))
    )
    return asof_join(left, right, ["user_id"], "us", ["rv"])


SQL_EVENTS_ASOF = """
WITH l AS (
  SELECT event_id, user_id, epoch_us(ts) AS us, value
  FROM events WHERE event_type = 'click'
),
r AS (
  SELECT user_id, epoch_us(ts) AS us, max_by(value, event_id) AS rv
  FROM events WHERE event_type = 'purchase' GROUP BY 1, 2
)
SELECT l.event_id, l.user_id, l.us, l.value,
       r.us AS matched_us, r.rv AS matched_rv
FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.us >= r.us
"""


def q_events_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type exact 20-bin histogram of value over [0, 400) with
    under/overflow bins — the distribution monitor; integer bucket
    arithmetic on an IEEE-exact double chain, so counts are
    engine-exact."""
    return agg_ops.value_histogram(
        _t(spark, sf_dir, "events"), "value", 0.0, 400.0, 20,
        group_cols=["event_type"],
    )


SQL_EVENTS_HISTOGRAM = """
WITH b AS (
  SELECT event_type,
         CASE WHEN value < 0.0 THEN -1
              WHEN value >= 400.0 THEN 20
              ELSE least(CAST(floor((value - 0.0) / 20.0) AS BIGINT), 19)
         END AS bin
  FROM events WHERE value IS NOT NULL
)
SELECT event_type, bin,
       round(0.0 + bin * 20.0, 6) AS bin_lo,
       round(0.0 + (bin + 1) * 20.0, 6) AS bin_hi,
       count(*) AS n
FROM b GROUP BY 1, 2
"""


#: the numeric events columns q_events_profile_numeric reports on — the
#: oracle SQL is generated from this same tuple (drift-proof, same
#: discipline as registry_docs.PROFILE_COLS)
NUMERIC_PROFILE_COLS = ("value", "user_id", "event_id")


def q_events_profile_numeric(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-pass numeric-moments profile of the events measures (count,
    mean, sample stddev, min/max, exact quartiles).  Registered in the
    exact-percentile form the oracle can hash; ``approx=True``
    (Greenwald-Khanna, bounded state) is the 100 TB path and is
    property-tested against this one in tests/test_operators.py."""
    from ..operators.profile import profile_numeric

    return profile_numeric(
        _t(spark, sf_dir, "events"), list(NUMERIC_PROFILE_COLS)
    )


#: the watched columns of the windowed drift profile — both engines'
#: queries are generated from this one tuple (same drift-proof
#: discipline as NUMERIC_PROFILE_COLS above)
WINDOWED_PROFILE_COLS = ("value", "user_id")


def q_events_windowed_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windowed feed-drift profile: per hourly epoch bucket × watched
    column, the combinable moments a feed monitor alarms on
    (``streaming/profile.windowed_profile_agg``).  Exact integer bucket
    arithmetic — the same ``div`` chain as ``events_tumbling``."""
    from ..streaming.profile import windowed_profile_agg

    return windowed_profile_agg(
        _t(spark, sf_dir, "events"),
        list(WINDOWED_PROFILE_COLS),
        window_seconds=3600,
    )


SQL_EVENTS_WINDOWED_PROFILE = "\nUNION ALL\n".join(
    f"""SELECT epoch_us(ts) // 3600000000 AS bucket, '{c}' AS col_name,
       count({c})::BIGINT AS n_nonnull,
       (count(*) - count({c}))::BIGINT AS n_nulls,
       round(avg({c}::DOUBLE), 6) AS mean,
       round(stddev_samp({c}::DOUBLE), 6) AS stddev,
       min({c}::DOUBLE) AS min_value, max({c}::DOUBLE) AS max_value
FROM events GROUP BY bucket"""
    for c in WINDOWED_PROFILE_COLS
)


SQL_EVENTS_PROFILE_NUMERIC = "\nUNION ALL\n".join(
    f"""SELECT '{c}' AS col_name, count({c})::BIGINT AS n_nonnull,
       round(avg({c}::DOUBLE), 6) AS mean,
       round(stddev_samp({c}::DOUBLE), 6) AS stddev,
       min({c}::DOUBLE) AS min_value, max({c}::DOUBLE) AS max_value,
       round(quantile_cont({c}::DOUBLE, 0.25), 6) AS q_0_25,
       round(quantile_cont({c}::DOUBLE, 0.5), 6) AS q_0_5,
       round(quantile_cont({c}::DOUBLE, 0.75), 6) AS q_0_75
FROM events"""
    for c in NUMERIC_PROFILE_COLS
)


def q_events_hot_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-20 users by event count via the GENERIC Misra-Gries
    path (operators/sketches.frequent_items over the LONG user_id key —
    the hot-join-key detector): sketch -> left-semi recount ->
    certificate, same machinery text_heavy_hitters certifies on the
    gram column, here driver-checked on a numeric key against the
    brute-force oracle.  capacity=2048 certifies at sf0.01/sf0.1
    (measured N/c20: 130 and 1177); sf0.001 has only 15 distinct users,
    so the <k branch exercises the exact fallback — both paths answer
    the same oracle."""
    from ..operators.sketches import frequent_items

    return frequent_items(
        _t(spark, sf_dir, "events"),
        "user_id",
        k=20,
        capacity=2048,
        count_col="n_events",
    )


SQL_EVENTS_HOT_USERS = """
-- user_id IS NOT NULL states the operator's NULL-exclusion contract:
-- frequent_items never counts NULL keys (a NULL group would otherwise
-- enter the oracle's GROUP BY and diverge on NULL-bearing data)
SELECT user_id, count(*) AS n_events FROM events
WHERE user_id IS NOT NULL
GROUP BY user_id ORDER BY n_events DESC, user_id ASC LIMIT 20
"""


def q_events_hot_users_bytes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WEIGHTED exact heavy hitters: top-20 users by total payload bytes
    (SUM(octet_length(props))) via frequent_items' integral-weight form —
    the 'which keys carry the most MASS' question (domains by tokens,
    users by bytes) under the same capacity-bounded MG shuffle, with
    N = total weight in the certificate.  The weight is derived JVM-side
    (octet_length → long) so the enforced integral-dtype contract holds
    by construction; NULL keys and NULL weights are excluded, matching
    the oracle's WHERE."""
    from ..operators.sketches import frequent_items

    ev = _t(spark, sf_dir, "events").withColumn(
        "payload_bytes", F.octet_length("props").cast("long")
    )
    return frequent_items(
        ev,
        "user_id",
        k=20,
        capacity=2048,
        count_col="total_bytes",
        weight_col="payload_bytes",
    )


SQL_EVENTS_HOT_USERS_BYTES = """
-- NULL keys and NULL weights excluded (the operator's contract);
-- strlen = DuckDB's VARCHAR byte length (Spark: octet_length);
-- CAST: DuckDB sum(BIGINT) is HUGEINT, Spark stays long
SELECT user_id,
       CAST(sum(strlen(props)) AS BIGINT) AS total_bytes
FROM events
WHERE user_id IS NOT NULL AND props IS NOT NULL
GROUP BY user_id ORDER BY total_bytes DESC, user_id ASC LIMIT 20
"""


def q_events_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hot-key detection composed with skew-mitigated execution, end to
    end: frequent_items (the capacity-bounded MG sketch — detection
    never pays the skewed shuffle it exists to avoid) finds the hottest
    join keys, rows carrying those keys route through
    operators.skew.salted_join (dim side replicated over the salts, hot
    side salted so no single reducer owns a hot key), the cold remainder
    takes the plain equi-join, and the union aggregates per market
    segment.  The result is routing-invariant — identical to one plain
    join — so a hash-green run PROVES the salted path's semantics; the
    skew SPEEDUP under a genuinely hot key is measured separately
    (SCALE.md r13, the salted-join probe)."""
    from ..operators.skew import skew_aware_join

    ev = _t(spark, sf_dir, "events").where(F.col("user_id").isNotNull())
    cust = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    # hot_threshold=0: the detector's full top-10 routes through the
    # salted path unconditionally, so the driver hash-checks BOTH
    # branches (salted + plain) at every testdata scale — the uniform
    # testdata has no >1%-hot user, and a threshold that never fires
    # would leave the salted branch driver-unverified
    joined = skew_aware_join(
        ev, cust, ["user_id"], n_salts=8, detect_k=10,
        detect_capacity=2048, hot_threshold=0.0,
    )
    return joined.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum(_dec("value")), 4).cast("double").alias("sum_value"),
    )


SQL_EVENTS_SALTED_JOIN = """
SELECT c_mktsegment, count(*) AS n_events,
       CAST(round(sum(CAST(value AS DECIMAL(18,4))), 4) AS DOUBLE) AS sum_value
FROM events JOIN customer ON user_id = c_custkey
GROUP BY c_mktsegment
"""


def q_events_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style multi-resolution rollup (1min/1h/1d) where each
    coarser level derives from the next FINER aggregate; the oracle
    computes every level directly from raw, so a hash-green run PROVES
    rollup(rollup(x)) == rollup(x) for the decimal-exact aggregates."""
    from ..streaming.events import multires_rollup

    return multires_rollup(_t(spark, sf_dir, "events"), (60, 3600, 86400))


SQL_EVENTS_ROLLUP = "\nUNION ALL\n".join(
    f"""
SELECT CAST({r} AS BIGINT) AS resolution_s,
       epoch_us(ts) // {r * 1_000_000} AS bucket, event_type,
       count(*) AS n,
       round(CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE), 4) AS sum_value
FROM events GROUP BY 2, 3"""
    for r in (60, 3600, 86400)
)


def q_events_hopping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hopping windows (1h window, 15min slide — each event in 4 buckets)
    via the built-in sliding ``F.window``; oracle enumerates the 4
    epoch-aligned window starts per event with generate_series."""
    from ..streaming.events import hopping_window_agg

    return hopping_window_agg(
        _t(spark, sf_dir, "events"), window_seconds=3600, slide_seconds=900
    )


SQL_EVENTS_HOPPING = """
WITH e AS (SELECT epoch_us(ts) AS us, event_type, value FROM events),
x AS (
  SELECT ((us // 900000000) - k) * 900000000 AS ws, event_type, value
  FROM e, generate_series(0, 3) AS g(k)
)
SELECT ws AS window_start_us, ws + 3600000000 AS window_end_us, event_type,
       count(*) AS n,
       CAST(round(sum(CAST(value AS DECIMAL(18,4))), 4) AS DOUBLE) AS sum_value
FROM x GROUP BY ws, event_type
"""


def q_events_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user session windows (built-in ``F.session_window``, 6-hour
    gap); oracle is the classic gap-islands construction (lag + running break count)."""
    from ..streaming.events import session_window_agg

    return session_window_agg(_t(spark, sf_dir, "events"), gap_seconds=21600)


SQL_EVENTS_SESSIONS = """
WITH e AS (
  SELECT user_id, epoch_us(ts) AS us, value FROM events
), d AS (
  SELECT user_id, us, value,
    CASE WHEN lag(us) OVER w IS NULL OR us - lag(us) OVER w >= 21600000000
         THEN 1 ELSE 0 END AS brk
  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us)
), s AS (
  SELECT *, sum(brk) OVER (PARTITION BY user_id ORDER BY us
                           ROWS UNBOUNDED PRECEDING) AS sid
  FROM d
)
SELECT user_id, min(us) AS session_start_us,
       max(us) + 21600000000 AS session_end_us,
       count(*) AS n,
       CAST(round(sum(CAST(value AS DECIMAL(18,4))), 4) AS DOUBLE) AS sum_value
FROM s GROUP BY user_id, sid
"""


def q_events_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval join (streaming/joins.py): click events joined to
    same-user purchase events within [0, 1h] after the click, pinned
    against a plain SQL range join."""
    from ..streaming.joins import interval_join

    ev = _t(spark, sf_dir, "events")
    return interval_join(
        ev.where(F.col("event_type") == "click"),
        ev.where(F.col("event_type") == "purchase"),
        lower_seconds=0,
        upper_seconds=3600,
    )


SQL_EVENTS_INTERVAL_JOIN = """
WITH l AS (
  SELECT user_id, epoch_us(ts) // 1000000 AS t, event_type, value
  FROM events WHERE event_type = 'click'
), r AS (
  SELECT user_id, epoch_us(ts) // 1000000 AS t, event_type, value
  FROM events WHERE event_type = 'purchase'
)
SELECT l.user_id, l.t AS left_time, r.t AS right_time,
       l.event_type AS left_type, r.event_type AS right_type,
       l.value AS left_value, r.value AS right_value
FROM l JOIN r ON l.user_id = r.user_id AND r.t BETWEEN l.t AND l.t + 3600
"""


def q_events_interval_join_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT-OUTER form of the interval join — the other production
    shape ("click with no purchase within the hour"): every click row
    survives, unmatched ones with null right columns."""
    from ..streaming.joins import interval_join

    ev = _t(spark, sf_dir, "events")
    return interval_join(
        ev.where(F.col("event_type") == "click"),
        ev.where(F.col("event_type") == "purchase"),
        lower_seconds=0,
        upper_seconds=3600,
        how="left_outer",
    )


SQL_EVENTS_INTERVAL_JOIN_OUTER = """
WITH l AS (
  SELECT user_id, epoch_us(ts) // 1000000 AS t, event_type, value
  FROM events WHERE event_type = 'click'
), r AS (
  SELECT user_id, epoch_us(ts) // 1000000 AS t, event_type, value
  FROM events WHERE event_type = 'purchase'
)
SELECT l.user_id, l.t AS left_time, r.t AS right_time,
       l.event_type AS left_type, r.event_type AS right_type,
       l.value AS left_value, r.value AS right_value
FROM l LEFT JOIN r ON l.user_id = r.user_id AND r.t BETWEEN l.t AND l.t + 3600
"""


# --------------------------------------------------------------------------
# registry assembly (part 1 — relational spine). Dedup/similarity/text
# entries live in registry_docs.py and are merged in __spark_entry__.
# --------------------------------------------------------------------------

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "a1_group_count": q_a1_group_count,
    "a3_pricing_summary": q_a3_pricing_summary,
    "a4_set_union": q_a4_set_union,
    "a6_argmin_dedup": q_a6_argmin_dedup,
    "a9_na_fraction": q_a9_na_fraction,
    "p2_threshold": q_p2_threshold,
    "p4_nonzero": q_p4_nonzero,
    "p5_remove_zeros": q_p5_remove_zeros,
    "p6_mad_filter": q_p6_mad_filter,
    "p8_outlier_matrix": q_p8_outlier_matrix,
    "j1_star_join": q_j1_star_join,
    "j4_band_join": q_j4_band_join,
    "j5_adduct_expand": q_j5_adduct_expand,
    "j6_transition_match": q_j6_transition_match,
    "j7_semi_join": q_j7_semi_join,
    "j8_anti_join": q_j8_anti_join,
    "j12_event_join": q_j12_event_join,
    "w1_mutual_rank": q_w1_mutual_rank,
    "w3_lag_diff": q_w3_lag_diff,
    "o1_global_topk": q_o1_global_topk,
    "u2_intersect": q_u2_intersect,
    "u3_except": q_u3_except,
    "f2_substring_parse": q_f2_substring_parse,
    "f3_regex_rewrite": q_f3_regex_rewrite,
    "f9_explode_tokens": q_f9_explode_tokens,
    "f11_conditional_swap": q_f11_conditional_swap,
    "k6_pairwise_corr": q_k6_pairwise_corr,
    "k6_spearman": q_k6_spearman,
    "k6_corr_pvalue": q_k6_corr_pvalue,
    "plan_mass_annotation": q_plan_mass_annotation,
    "events_tumbling": q_events_tumbling,
    "events_asof_join": q_events_asof_join,
    "events_rollup": q_events_rollup,
    "events_histogram": q_events_histogram,
    "events_profile_numeric": q_events_profile_numeric,
    "events_windowed_profile": q_events_windowed_profile,
    "events_hot_users": q_events_hot_users,
    "events_hot_users_bytes": q_events_hot_users_bytes,
    "events_salted_join": q_events_salted_join,
    "events_sessions": q_events_sessions,
    "events_hopping": q_events_hopping,
    "events_interval_join": q_events_interval_join,
    "events_interval_join_outer": q_events_interval_join_outer,
}

ORACLES: dict[str, str] = {
    "a1_group_count": SQL_A1,
    "a3_pricing_summary": SQL_A3,
    "a4_set_union": SQL_A4,
    "a6_argmin_dedup": SQL_A6,
    "a9_na_fraction": SQL_A9,
    "p2_threshold": SQL_P2,
    "p4_nonzero": SQL_P4,
    "p5_remove_zeros": SQL_P5,
    "p6_mad_filter": SQL_P6,
    "p8_outlier_matrix": SQL_P8,
    "j1_star_join": SQL_J1,
    "j4_band_join": SQL_J4,
    "j5_adduct_expand": SQL_J5,
    "j6_transition_match": SQL_J6,
    "j7_semi_join": SQL_J7,
    "j8_anti_join": SQL_J8,
    "j12_event_join": SQL_J12,
    "w1_mutual_rank": SQL_W1,
    "w3_lag_diff": SQL_W3,
    "o1_global_topk": SQL_O1,
    "u2_intersect": SQL_U2,
    "u3_except": SQL_U3,
    "f2_substring_parse": SQL_F2,
    "f3_regex_rewrite": SQL_F3,
    "f9_explode_tokens": SQL_F9,
    "f11_conditional_swap": SQL_F11,
    "k6_pairwise_corr": SQL_K6,
    "k6_spearman": SQL_K6_SPEARMAN,
    "k6_corr_pvalue": SQL_K6_CORR_PVALUE,
    "plan_mass_annotation": SQL_PLAN_MASS,
    "events_tumbling": SQL_EVENTS_TUMBLING,
    "events_asof_join": SQL_EVENTS_ASOF,
    "events_rollup": SQL_EVENTS_ROLLUP,
    "events_histogram": SQL_EVENTS_HISTOGRAM,
    "events_profile_numeric": SQL_EVENTS_PROFILE_NUMERIC,
    "events_windowed_profile": SQL_EVENTS_WINDOWED_PROFILE,
    "events_hot_users": SQL_EVENTS_HOT_USERS,
    "events_hot_users_bytes": SQL_EVENTS_HOT_USERS_BYTES,
    "events_salted_join": SQL_EVENTS_SALTED_JOIN,
    "events_sessions": SQL_EVENTS_SESSIONS,
    "events_interval_join": SQL_EVENTS_INTERVAL_JOIN,
    "events_interval_join_outer": SQL_EVENTS_INTERVAL_JOIN_OUTER,
    "events_hopping": SQL_EVENTS_HOPPING,
}
