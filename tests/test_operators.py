"""Operator-level unit tests: algebraic properties, kernel correctness
against scipy/pure-python references, and determinism guarantees."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from omics_data_integration_utilities_spark.operators import (
    band_join,
    pairwise_corr,
    corr_pvalues,
    mutual_rank,
    arg_extreme_dedup,
    remove_zeros,
    group_mad,
    outlier_flags,
)
from omics_data_integration_utilities_spark.analytics.drivernet import (
    greedy_driver_selection,
    _greedy_pandas,
)
from omics_data_integration_utilities_spark.analytics.graph import break_cycles
from omics_data_integration_utilities_spark.analytics.methylmix import (
    methylmix_model,
    model_single_gene,
)


def test_band_join_equals_nested_loop(spark):
    """Grid-bucketed band join ≡ naive theta join, for any bucket width."""
    pts = spark.createDataFrame(
        [(i, float(i) * 0.37 - 5) for i in range(200)], "pid long, x double"
    )
    iv = spark.createDataFrame(
        [(j, float(j) - 3.3, float(j) - 1.1) for j in range(60)],
        "iid long, lo double, hi double",
    )
    naive = (
        pts.crossJoin(iv)
        .where((F.col("x") >= F.col("lo")) & (F.col("x") <= F.col("hi")))
        .select("pid", "iid")
    )
    expected = sorted(tuple(r) for r in naive.collect())
    for width in (0.5, 1.0, 4.0):
        got = band_join(pts, iv, "x", "lo", "hi", bucket_width=width).select("pid", "iid")
        assert sorted(tuple(r) for r in got.collect()) == expected, f"width={width}"


def test_band_join_no_duplicate_pairs(spark):
    pts = spark.createDataFrame([(1, 0.0)], "pid long, x double")
    iv = spark.createDataFrame([(1, -10.0, 10.0)], "iid long, lo double, hi double")
    assert band_join(pts, iv, "x", "lo", "hi", bucket_width=0.25).count() == 1


def test_student_t_tail_closed_forms():
    """betainc-based two-sided tail vs exact closed forms: Cauchy (ν=1),
    ν=2 algebraic form, and the normal limit for large ν."""
    import numpy as np

    from omics_data_integration_utilities_spark.functions.stats import (
        student_t_sf_two_sided,
    )

    ts = np.array([0.1, 0.5, 1.0, 2.0, 5.0, 10.0])
    # ν=1 (Cauchy): P(|T|>=t) = 1 − (2/π)·arctan(t)
    p1 = student_t_sf_two_sided(ts, np.full_like(ts, 1.0))
    assert np.allclose(p1, 1 - 2 / math.pi * np.arctan(ts), atol=1e-12)
    # ν=2: P(|T|>=t) = 1 − t/sqrt(2+t²)
    p2 = student_t_sf_two_sided(ts, np.full_like(ts, 2.0))
    assert np.allclose(p2, 1 - ts / np.sqrt(2 + ts * ts), atol=1e-12)
    # large ν → normal: P ≈ erfc(t/√2)
    p_big = student_t_sf_two_sided(ts, np.full_like(ts, 1e7))
    erfc = np.array([math.erfc(t / math.sqrt(2)) for t in ts])
    assert np.allclose(p_big, erfc, rtol=1e-4)


def test_corr_pvalue_pipeline(spark):
    import numpy as np

    rows = [(1, float(i), float(i) * 0.5 + ((i * 7) % 5)) for i in range(30)]
    df = spark.createDataFrame(rows, "g long, x double, y double")
    out = corr_pvalues(pairwise_corr(df, ["g"], "x", "y")).collect()[0]
    xs = np.array([r[1] for r in rows])
    ys = np.array([r[2] for r in rows])
    r_ref = float(np.corrcoef(xs, ys)[0, 1])
    assert abs(out["r"] - r_ref) < 1e-9
    # p from the same t-transform evaluated driver-side
    from omics_data_integration_utilities_spark.functions.stats import (
        student_t_sf_two_sided,
    )

    t_ref = r_ref * math.sqrt((30 - 2) / (1 - r_ref**2))
    p_ref = float(student_t_sf_two_sided(t_ref, 28.0))
    assert abs(out["p"] - p_ref) < 1e-12
    assert 0.0 < out["p"] < 1.0


def _lineitem_vs_oracle(spark, tmp_path, build, sql, rows):
    """Write ``rows`` (l_partkey, l_quantity, l_discount) as a
    ``lineitem`` table, run the registered ``build`` on it and assert it
    equals the oracle ``sql`` in DuckDB; returns the Spark rows."""
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from .conftest import normalize_rows

    path = str(tmp_path / "lineitem.parquet")
    cols = list(zip(*rows))
    pq.write_table(pa.table({
        "l_partkey": pa.array(cols[0], pa.int64()),
        "l_quantity": pa.array(cols[1], pa.float64()),
        "l_discount": pa.array(cols[2], pa.float64()),
    }), path)
    df = build(spark, str(tmp_path))
    got = df.collect()
    con = duckdb.connect()
    con.execute(f"CREATE VIEW lineitem AS SELECT * FROM '{path}'")
    res = con.execute(sql)
    want = normalize_rows([c[0] for c in res.description], res.fetchall())
    con.close()
    assert normalize_rows(df.columns, [tuple(r) for r in got]) == want
    return got


def _constant_series_lineitem():
    """Part 1 has a constant quantity, part 2 a constant discount, parts
    3 and 4 vary (part 4 with a negative slope)."""
    import numpy as np

    rng = np.random.default_rng(5)
    rows = []
    for i in range(8):
        d = float(rng.uniform(0, 0.1))
        rows += [(1, 7.0, d), (2, float(rng.integers(1, 50)), 0.04)]
        rows += [(3, float(rng.integers(1, 50)), float(rng.uniform(0, 0.1)))]
        rows += [(4, 40.0 - 300 * d + float(rng.normal()), d)]
    return rows


def test_pairwise_corr_constant_series_match_oracle(spark, tmp_path):
    """A group whose x or y is constant has zero variance: r is NULL as
    in DuckDB and the group is dropped, where Spark's own ``corr`` raises
    ``[DIVIDE_BY_ZERO]`` under ANSI mode."""
    from omics_data_integration_utilities_spark.plans.registry import (
        SQL_K6,
        q_k6_pairwise_corr,
    )

    got = _lineitem_vs_oracle(
        spark, tmp_path, q_k6_pairwise_corr, SQL_K6, _constant_series_lineitem()
    )
    assert {r["l_partkey"] for r in got} == {3, 4}


def test_spearman_with_ties_matches_numpy_ranks(spark):
    import numpy as np

    xs = [1.0, 2.0, 2.0, 3.0, 5.0, 5.0, 5.0, 8.0]
    ys = [3.0, 1.0, 4.0, 4.0, 7.0, 2.0, 9.0, 9.0]

    def avg_rank(v):
        v = np.asarray(v)
        order = np.argsort(v, kind="stable")
        ranks = np.empty(len(v), dtype=float)
        i = 0
        sv = v[order]
        while i < len(v):
            j = i
            while j + 1 < len(v) and sv[j + 1] == sv[i]:
                j += 1
            ranks[order[i : j + 1]] = (i + j) / 2.0 + 1.0
            i = j + 1
        return ranks

    rho_ref = float(np.corrcoef(avg_rank(xs), avg_rank(ys))[0, 1])
    df = spark.createDataFrame(
        [(1, x, y) for x, y in zip(xs, ys)], "g long, x double, y double"
    )
    out = pairwise_corr(df, ["g"], "x", "y", method="spearman").collect()[0]
    assert abs(out["r"] - rho_ref) < 1e-9


def test_mad_exact(spark):
    df = spark.createDataFrame(
        [(1, v) for v in [1.0, 2.0, 3.0, 4.0, 100.0]] + [(2, 5.0), (2, 5.0), (2, 5.0)],
        "g long, v double",
    )
    got = {r["g"]: r["mad"] for r in group_mad(df, ["g"], "v").collect()}
    # group 1: median 3, |x-3| = [2,1,0,1,97] → median 1
    assert got[1] == 1.0
    assert got[2] == 0.0


def test_remove_zeros(spark):
    df = spark.createDataFrame(
        [(1, 1.0), (1, 0.0), (2, 3.0), (2, 4.0)], "g long, v double"
    )
    kept = remove_zeros(df, ["g"], "v").select("g").distinct().collect()
    assert [r["g"] for r in kept] == [2]


def test_outlier_flags_single_value_group(spark):
    df = spark.createDataFrame([(1, 5.0)], "g long, v double")
    row = outlier_flags(df, ["g"], "v").collect()[0]
    assert row["outlier"] is False


def test_arg_extreme_dedup_minby_matches_window(spark):
    """r16: the ascending (min_by aggregation) path must reproduce the
    window form row-for-row, including null order values and ties
    resolved by tie_break."""
    import random

    from omics_data_integration_utilities_spark.operators.windows import (
        top_k_per_group,
    )

    random.seed(7)
    rows = [
        (
            random.randint(0, 50),
            random.choice([None, 1.0, 2.0, 2.0, 3.5]),
            random.randint(0, 3),
            f"s{random.randint(0, 2)}",
        )
        for _ in range(500)
    ]
    df = spark.createDataFrame(rows, "k int, v double, t int, payload string")
    new = arg_extreme_dedup(df, ["k"], "v", True, ["t", "payload"])
    old = top_k_per_group(df, ["k"], "v", 1, True, ["t", "payload"])
    assert new.columns == old.columns == df.columns
    assert sorted(map(tuple, new.collect())) == sorted(map(tuple, old.collect()))


def test_arg_extreme_dedup_deterministic_ties(spark):
    df = spark.createDataFrame(
        [(1, "b", 10.0), (1, "a", 10.0), (1, "c", 5.0)], "g long, k string, v double"
    )
    row = arg_extreme_dedup(df, ["g"], "v", ascending=False, tie_break=["k"]).collect()
    assert len(row) == 1 and row[0]["k"] == "a"


def test_mutual_rank_symmetric(spark):
    df = spark.createDataFrame(
        [("s1", "p1", 10.0), ("s1", "p2", 5.0), ("s2", "p1", 8.0)],
        "a string, b string, v double",
    )
    out = {(r["a"], r["b"]): r for r in mutual_rank(df, "a", "b", "v").collect()}
    assert out[("s1", "p1")]["rank_ab"] == 1
    assert out[("s1", "p2")]["rank_ab"] == 2
    assert out[("s2", "p1")]["rank_ba"] == 2  # p1 list: s1(10) then s2(8)
    assert abs(out[("s2", "p1")]["mr"] - math.sqrt(1 * 2)) < 1e-12


def test_greedy_cover_known_instance(spark):
    # gene A covers 3 events, B covers 2 (1 overlapping), C covers 1 (all overlapping)
    rows = [
        ("A", "p1", "g1"), ("A", "p2", "g1"), ("A", "p3", "g2"),
        ("B", "p1", "g1"), ("B", "p4", "g3"),
        ("C", "p1", "g1"),
    ]
    ev = spark.createDataFrame(rows, "mut_gene string, patient string, out_gene string")
    picks = greedy_driver_selection(ev, k=3)
    assert picks[0] == ("A", 3)
    assert picks[1] == ("B", 1)  # only p4/g3 newly covered
    assert len(picks) == 2  # C adds nothing → loop ends


def test_greedy_pandas_matches_spark_greedy():
    import pandas as pd

    pdf = pd.DataFrame(
        {
            "mut_gene": ["A", "A", "A", "B", "B", "C"],
            "event": ["p1g1", "p2g1", "p3g2", "p1g1", "p4g3", "p1g1"],
        }
    )
    assert _greedy_pandas(pdf, 3) == [3, 1]


def test_break_cycles_removes_lowest_weight(spark):
    edges = spark.createDataFrame(
        [("a", "b", 5), ("b", "c", 3), ("c", "a", 1), ("c", "d", 9)],
        "src string, dst string, weight long",
    )
    kept = {(r["src"], r["dst"]) for r in break_cycles(edges).collect()}
    assert ("c", "a") not in kept  # lowest-weight edge of the only cycle
    assert kept == {("a", "b"), ("b", "c"), ("c", "d")}


def test_methylmix_recovers_beta_bimodal(spark):
    import numpy as np

    rng = np.random.RandomState(7)
    xs = np.concatenate([rng.beta(2, 18, 300), rng.beta(18, 2, 300)])
    df = spark.createDataFrame(
        [("g", float(v)) for v in xs], "gene string, beta double"
    )
    out = methylmix_model(df, "gene", "beta", no_normal_mode=True).collect()
    assert len(out) == 2  # BIC picks 2 beta components
    mus = sorted(r["mu"] for r in out)
    assert abs(mus[0] - 0.1) < 0.06 and abs(mus[1] - 0.9) < 0.06
    # mixture_state carries the component mean (NoNormalMode semantics)
    states = sorted(r["mixture_state"] for r in out)
    assert abs(states[0] - 0.1) < 0.08 and abs(states[1] - 0.9) < 0.08


def test_methylmix_spark_matches_numpy_replica(spark):
    """Spark applyInPandas output == driver-side model_single_gene on the
    same values (the EM is deterministic given the data)."""
    import numpy as np

    rng = np.random.RandomState(11)
    xs = np.concatenate([rng.beta(3, 12, 200), rng.beta(12, 3, 150)])
    df = spark.createDataFrame(
        [("g", float(v)) for v in xs], "gene string, beta double"
    )
    rows = methylmix_model(df, "gene", "beta", no_normal_mode=True).collect()
    # the Spark wrapper canonicalizes to ascending order; mirror it here
    res = model_single_gene(np.sort(xs), None, no_normal_mode=True)
    k = res["nr_components"]
    assert len(rows) == k
    by_comp = {r["comp"]: r for r in rows}
    for c in range(1, k + 1):
        assert abs(by_comp[c]["mu"] - round(float(res["mu"][c - 1]), 6)) < 1e-9
        assert abs(by_comp[c]["a"] - round(float(res["a"][c - 1]), 6)) < 1e-9


def test_linear_filter_constant_series_match_oracle(spark, tmp_path):
    """K9's per-gene screen over a constant x (zero variance) or constant
    y (zero covariance): the group is dropped with r NULL as in DuckDB,
    where Spark's own ``corr`` raises ``[DIVIDE_BY_ZERO]``."""
    from omics_data_integration_utilities_spark.plans.registry_more import (
        SQL_K9,
        q_k9_linear_filter,
    )

    got = _lineitem_vs_oracle(
        spark, tmp_path, q_k9_linear_filter, SQL_K9, _constant_series_lineitem()
    )
    parts = {r["l_partkey"] for r in got}
    assert 4 in parts and not parts & {1, 2}


def test_set_codec_roundtrip(spark):
    from omics_data_integration_utilities_spark.functions.scalars import (
        set_decode,
        set_encode,
    )

    df = spark.createDataFrame([("b;a;;b;c",)], "s string")
    row = df.select(
        set_decode("s").alias("arr"), set_encode(set_decode("s")).alias("enc")
    ).collect()[0]
    assert row["arr"] == ["a", "b", "c"]
    assert row["enc"] == "a;b;c"


def test_conditional_swap(spark):
    from omics_data_integration_utilities_spark.functions.scalars import conditional_swap

    df = spark.createDataFrame([(1, "x", "y"), (-1, "x", "y")], "d long, s string, p string")
    out = conditional_swap(df, F.col("d") == -1, [("s", "p")]).collect()
    by_d = {r["d"]: (r["s"], r["p"]) for r in out}
    assert by_d[1] == ("x", "y")
    assert by_d[-1] == ("y", "x")


def test_posting_list_cap_drops_hot_shingle(spark):
    """A shingle shared by every doc (stop-shingle) must not expand to
    |docs|² pairs when the cap bites; unique shingle overlap survives."""
    from omics_data_integration_utilities_spark.operators.dedup import (
        hot_posting_keys,
        ngram_jaccard_pairs,
    )

    hot = "the the the"  # one hot shingle in every doc
    rows = [(i, f"{hot} unique{i} word{i} tail{i}") for i in range(40)]
    # two docs additionally share a rare shingle chain
    rows += [(100, f"{hot} shared run of tokens alpha"), (101, f"{hot} shared run of tokens beta")]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    capped = ngram_jaccard_pairs(df, "text", "doc_id", min_jaccard=0.0, max_posting=10)
    got = {(r.id_a, r.id_b) for r in capped.collect()}
    # the hot shingle (42 postings > cap) contributes no pairs; the rare
    # chain ("shared run of", "run of tokens") still pairs 100-101
    assert got == {(100, 101)}

    hot_keys = {r.s for r in hot_posting_keys(df, "text", "doc_id", max_posting=10).collect()}
    assert any("the the" in k for k in hot_keys)

    uncapped = ngram_jaccard_pairs(df, "text", "doc_id", min_jaccard=0.0, max_posting=1000)
    assert uncapped.count() == 42 * 41 // 2  # every doc pair shares the hot shingle


def test_jaccard_capped_equals_uncapped_when_cap_not_hit(spark):
    """Property: when no shingle's posting list exceeds the cap, the cap
    must be a no-op — identical pairs AND identical scores/sizes."""
    from omics_data_integration_utilities_spark.operators.dedup import ngram_jaccard_pairs

    rows = [
        (1, "a b c d e"),
        (2, "a b c d f"),
        (3, "x y z w v"),
        (4, "x y z w u"),
        (5, "a b c x y z"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    # max df over 3-shingles here is 3 ("a b c"); cap=3 is not exceeded
    at_cap = sorted(map(tuple, ngram_jaccard_pairs(
        df, "text", "doc_id", min_jaccard=0.0, max_posting=3).collect()))
    loose = sorted(map(tuple, ngram_jaccard_pairs(
        df, "text", "doc_id", min_jaccard=0.0, max_posting=10_000).collect()))
    assert at_cap == loose and len(at_cap) > 0


def test_jaccard_exact_over_surviving_shingles_under_cap(spark):
    """Exact-under-cap: a hot shingle excluded from the intersections must
    also be excluded from the set sizes, so a surviving pair's jaccard is
    exact over the non-hot feature space (not a conservative bias)."""
    from omics_data_integration_utilities_spark.operators.dedup import ngram_jaccard_pairs

    # "a b c" appears in every doc (hot, df=6 > cap=4); docs 1 and 2 also
    # share the chain "b c d" / "c d e"
    rows = [
        (1, "a b c d e"),        # shingles: abc, bcd, cde
        (2, "z a b c d e"),      # shingles: zab, abc, bcd, cde
        (3, "a b c p3 q3"),
        (4, "a b c p4 q4"),
        (5, "a b c p5 q5"),
        (6, "a b c p6 q6"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {(r.id_a, r.id_b): r for r in ngram_jaccard_pairs(
        df, "text", "doc_id", min_jaccard=0.0, max_posting=4).collect()}
    r = out[(1, 2)]
    # without abc: doc1 = {bcd, cde} (sz 2), doc2 = {zab, bcd, cde} (sz 3),
    # inter = 2 → jaccard = 2 / (2 + 3 - 2)
    assert (r.inter, r.sz_a, r.sz_b) == (2, 2, 3)
    assert r.jaccard == round(2 / 3, 6)


def test_permutation_null_breaks_association(spark):
    """The permuted null must NOT reproduce the observed greedy coverage
    (a bijective relabel of the joined event table would, making every
    p-value ~1 — the relabeling happens upstream of the bipartite join)."""
    from omics_data_integration_utilities_spark.analytics.drivernet import (
        permutation_null_coverage,
    )

    # G0's influence neighborhood covers 12 outlier events; 30 other genes
    # have no influence edges at all, so a random relabel usually strands
    # the mutated patients on edge-less genes
    mut = spark.createDataFrame(
        [("G0", f"p{i}") for i in range(12)] + [(f"G{j}", f"q{j}") for j in range(1, 12)],
        "mut_gene string, patient string",
    ).select("patient", "mut_gene")
    edges = spark.createDataFrame(
        [("G0", f"o{i}") for i in range(12)], "src string, dst string"
    )
    outl = spark.createDataFrame(
        [(f"p{i}", f"o{i}") for i in range(12)], "patient string, out_gene string"
    )
    # pad the universe with edge-less, event-less gene names
    mut = mut.union(
        spark.createDataFrame([(f"z{j}", f"H{j}") for j in range(30)], "patient string, mut_gene string")
    )
    null = permutation_null_coverage(mut, edges, outl, n_runs=30, k=1).collect()
    top_cov = {r.run_id: r.coverage for r in null if r.rank == 1}
    # observed coverage is 12; the randomized relabel must not hit it always
    assert sum(1 for c in top_cov.values() if c >= 12) < 30

    # determinism: identical seeds → identical null
    null2 = permutation_null_coverage(mut, edges, outl, n_runs=30, k=1).collect()
    assert sorted(map(tuple, null)) == sorted(map(tuple, null2))


def test_exact_dedup_groups_on_full_digest(spark):
    from omics_data_integration_utilities_spark.operators.dedup import exact_dedup

    df = spark.createDataFrame(
        [(1, "aaa"), (2, "aaa"), (3, "bbb")], "doc_id long, text string"
    )
    out = {(r.keep_id, r.n_copies) for r in exact_dedup(df, "text", "doc_id").collect()}
    assert out == {(1, 2), (3, 1)}


def test_rule_bfs_prerequisite_gating(spark):
    """gizmos.py:339-400 dynamics: C needs both A and B passed; B is
    unlocked by A but fails its test, so C is generated (via is_in of A)
    yet never tested; D needs only A and is tested in round 1; E hangs
    off D and unlocks in round 2."""
    from omics_data_integration_utilities_spark.operators.containment import rule_bfs

    rows = [
        # rule, base, passes, is_in,          has
        ("A", True, True, ["B", "C", "D"], []),
        ("B", False, False, ["C"], ["A"]),
        ("C", False, True, [], ["A", "B"]),
        ("D", False, True, ["E"], ["A"]),
        ("E", False, True, [], ["D"]),
    ]
    df = spark.createDataFrame(
        rows,
        "rule_id string, is_base boolean, passes boolean, "
        "is_in array<string>, has array<string>",
    )
    out = {r["rule_id"]: (r["round"], r["passed"]) for r in rule_bfs(df).collect()}
    assert out["A"] == (0, True)
    assert out["B"] == (1, False)  # unlocked by A, tested, fails
    assert out["D"] == (1, True)
    assert out["E"] == (2, True)  # surfaces only after D passes
    assert "C" not in out  # prerequisite B never passes → never tested


def test_smarts_mass_known_values(spark):
    """Hand-checked against the reference semantics: sum of atom masses
    after valence-strip (gizmos.py:240-255), H-count specs dropped,
    [H] kept, aromatic + #n forms resolved."""
    from omics_data_integration_utilities_spark.functions.chem import smarts_mass

    cases = [
        ("C", 12.011),
        ("CCO", 2 * 12.011 + 15.999),            # ethanol heavy atoms
        ("c1ccccc1", 6 * 12.011),                # benzene aromatic
        ("[C&H2:1]=[O&X1]", 12.011 + 15.999),    # valence-strip + atom map
        ("[CH3][CH2][OH]", 2 * 12.011 + 15.999), # H-count specs dropped
        ("[H]O[H]", 2 * 1.008 + 15.999),         # explicit hydrogens kept
        ("ClCCl", 12.011 + 2 * 35.45),           # Cl not double-counted as C
        ("BrBr", 2 * 79.904),
        ("[#6][#8][#17]", 12.011 + 15.999 + 35.45),  # atomic numbers
        ("*", 0.0),                              # wildcard massless
    ]
    df = spark.createDataFrame([(s,) for s, _ in cases], "s string")
    got = {r["s"]: r["mm"] for r in
           df.select("s", F.round(smarts_mass("s"), 6).alias("mm")).collect()}
    for s, expected in cases:
        assert abs(got[s] - expected) < 1e-6, (s, got[s], expected)


def test_greedy_distributed_path_matches_fast_path(spark, monkeypatch):
    """Force the distributed K-round loop (GREEDY_COLLECT_THRESHOLD=0)
    and check it returns exactly what the collected fast path returns."""
    from omics_data_integration_utilities_spark.analytics import drivernet

    rows = [
        ("A", "p1", "g1"), ("A", "p2", "g1"), ("A", "p3", "g2"),
        ("B", "p1", "g1"), ("B", "p4", "g3"), ("B", "p5", "g1"),
        ("C", "p6", "g2"), ("C", "p4", "g3"),
    ]
    ev = spark.createDataFrame(rows, "mut_gene string, patient string, out_gene string")
    fast = greedy_driver_selection(ev, k=4)
    monkeypatch.setattr(drivernet, "GREEDY_COLLECT_THRESHOLD", 0)
    slow = greedy_driver_selection(ev, k=4)
    assert fast == slow
    assert fast[0][0] == "A"


def test_rule_bfs_distributed_matches_fast_path(spark, monkeypatch):
    rows = [
        ("A", True, True, ["B", "C", "D"], []),
        ("B", False, False, ["C"], ["A"]),
        ("C", False, True, [], ["A", "B"]),
        ("D", False, True, ["E"], ["A"]),
        ("E", False, True, [], ["D"]),
    ]
    from omics_data_integration_utilities_spark.operators import containment
    from omics_data_integration_utilities_spark.operators.containment import rule_bfs

    df = spark.createDataFrame(
        rows,
        "rule_id string, is_base boolean, passes boolean, "
        "is_in array<string>, has array<string>",
    )
    fast = sorted(tuple(r) for r in rule_bfs(df).collect())
    monkeypatch.setattr(containment, "RULE_BFS_COLLECT_THRESHOLD", 0)
    slow = sorted(tuple(r) for r in rule_bfs(df).collect())
    assert fast == slow


def test_reaction_kernel_injection_matches_jvm_path(spark):
    """The mapInPandas kernel slot (where RDKit RunReactants would go)
    produces identical products/ids to the default JVM regexp path."""
    import re

    from omics_data_integration_utilities_spark.operators.reactions import apply_reactions

    def regexp_kernel_pandas(pdf):
        """Pandas replica of the default JVM regexp kernel — stands in
        for an RDKit ``RunReactants`` kernel."""
        out = pdf.copy()
        out["product"] = [
            re.sub(p, r, s)
            for s, p, r in zip(pdf["substrate"], pdf["pattern"], pdf["replacement"])
        ]
        return out

    subs = spark.createDataFrame(
        [(1, "CCOCl"), (2, "c1ccccc1N"), (3, "plain")],
        "substrate_id long, substrate string",
    )
    rules = spark.createDataFrame(
        [("r1", "Cl", "OO"), ("r2", "c1ccccc1", "CCCCC")],
        "rule_id string, pattern string, replacement string",
    )
    jvm = sorted(tuple(r) for r in apply_reactions(subs, rules).collect())
    injected = sorted(
        tuple(r)
        for r in apply_reactions(subs, rules, kernel=regexp_kernel_pandas).collect()
    )
    assert jvm == injected
    assert len(jvm) == 2  # 'plain' matches no rule; others match one each
    assert all(r[3].startswith("VM_") for r in jvm)


def test_structural_kernel_matches_jvm_on_single_site_shapes(spark):
    """On substrates with at most one embedding per pattern, the
    structural SMARTS-subset engine and the JVM regexp path must agree
    exactly (products and ids) — the plan_reaction_mass regime."""
    from omics_data_integration_utilities_spark.operators.reactions import apply_reactions
    from omics_data_integration_utilities_spark.operators.smarts_engine import (
        structural_reaction_kernel,
    )

    subs = spark.createDataFrame(
        [(1, "CCO[N&X3:2]Cl[CH3]"), (2, "CO[N&X3:2]c1ccccc1[CH3]"), (3, "CCC")],
        "substrate_id long, substrate string",
    )
    smarts_rules = spark.createDataFrame(
        [("r1", "Cl", "OO"), ("r2", "c1ccccc1", "CCCCC"), ("r3", "[CH3]", "")],
        "rule_id string, pattern string, replacement string",
    )
    regex_rules = spark.createDataFrame(
        [("r1", "Cl", "OO"), ("r2", "c1ccccc1", "CCCCC"), ("r3", "\\[CH3\\]", "")],
        "rule_id string, pattern string, replacement string",
    )
    jvm = sorted(tuple(r) for r in apply_reactions(subs, regex_rules).collect())
    struct = sorted(
        tuple(r)
        for r in apply_reactions(
            subs, smarts_rules, kernel=structural_reaction_kernel
        ).collect()
    )
    assert jvm == struct and len(jvm) == 4


def test_structural_kernel_is_one_to_n_per_site():
    """Reference semantics the regexp kernel cannot express: one product
    PER embedding (gizmos.py:210-224), deduplicated at MOLECULE level —
    the reference's canonical-MolToSmiles guard emits a symmetric
    substrate's two writings of the same product once."""
    from omics_data_integration_utilities_spark.operators.smarts_engine import apply_reaction

    # two Cl sites give two embeddings, but OCCCl == ClCCO as molecules
    assert apply_reaction("ClCCCl", "Cl", "O") == ("OCCCl",)
    assert apply_reaction("ClCCl", "Cl", "F") == ("FCCl",)
    assert apply_reaction("ClCl", "Cl", "F") == ("FCl",)
    # distinct molecules from distinct sites both survive
    assert apply_reaction("ClCCBr", "Cl", "O") == ("OCCBr",)
    assert apply_reaction("OC(C)CO", "[C:1]O", "[C:1]N") == ("OC(C)CN", "C(C)(CO)N")
    # multi-component substrate: same molecule SET dedupes across writings
    assert apply_reaction("CO.CO", "[C:1]O", "[C:1]N") == ("CN.CO",)


def test_structural_kernel_ring_and_map_semantics():
    """Ring-closure topology matching, dangling-ring refusal, and
    atom-map property inheritance."""
    from omics_data_integration_utilities_spark.operators.smarts_engine import apply_reaction

    # ring digit labels are arbitrary; the pairing topology matches
    assert apply_reaction("CCc2ccccc2C", "c1ccccc1", "N") == ("CCNC",)
    # deleting a single ring atom would dangle the closure: only the
    # non-closure atoms may rewrite, and the rotations of the resulting
    # 6-ring are ONE molecule (canonical dedup, the reference's guard)
    assert apply_reaction("c1ccccc1", "c", "N") == ("c1Ncccc1",)
    # bare mapped template atom inherits the substrate token (modifiers
    # survive); an element change imposes the template's atom.  The =O
    # bonds to N with BOTH neighbours kept (RunReactants attachment —
    # the old splice extended the chain to C[N&X3]=OC instead)
    assert apply_reaction("C[N&X3:7]C", "[N:1]", "[N:1]=O") == ("C[N&X3](C)=O",)
    assert apply_reaction("c1ccccc1", "[c:1]", "[n:1]")[0] == "[n]1ccccc1"
    # explicit H-count constrains the match
    assert apply_reaction("C[CH3]", "[CH2]", "O") == ()
    assert apply_reaction("C[CH2]C", "[CH2]", "O") == ("COC",)
    # a product atom written without charge is NEUTRAL (SMILES [O] =
    # charge 0): inheritance drops the substrate's charge spec while
    # keeping other modifiers; an explicit template charge is kept
    assert apply_reaction("C[O-]", "[O-:1]", "[O:1]") == ("C[O]",)
    assert apply_reaction("C[NH3+]", "[N+:1]", "[N:1]") == ("C[NH3]",)
    assert apply_reaction("C[O-]", "[O-:1]", "[O-:1]C") == ("C[O-]C",)


def test_graph_rewrite_interrupted_embeddings():
    """K1 graph writer: embeddings interrupted by substrate-side branches
    the pattern lacks — the case the linear splice declines — rewrite via
    the subgraph matcher + graph serializer (RunReactants parity,
    gizmos.py:193-234).  Requires a shared atom map as the anchor."""
    from omics_data_integration_utilities_spark.operators.smarts_engine import apply_reaction

    # branch-interrupted attachment: linear path finds no contiguous run
    assert apply_reaction("C(F)(Cl)O", "[C:1]O", "[C:1]N") == ("C(F)(Cl)N",)
    assert apply_reaction("CC(O)C", "[C:1]O", "[C:1]N") == ("CC(C)N",)
    # bond-order change through the template at an interrupted site
    assert apply_reaction("C(O)F", "[C:1][O:2]", "[C:1]=[O:2]") == ("C(=O)F",)
    assert apply_reaction("C(F)(Cl)CO", "[C:1][O:2]", "[C:1]=[O:2]") == ("C(F)(Cl)C=O",)
    # deleting an interior unmapped atom re-bonds the mapped endpoints
    assert apply_reaction("C(OC)F", "[C:1]O[C:2]", "[C:1][C:2]") == ("C(C)F",)
    # unmapped template atoms insert with the template's bonds
    assert apply_reaction("CC(O)C", "[C:1]O", "[C:1]OC") == ("CC(C)OC",)
    assert apply_reaction("C(F)O", "[C:1]O", "[C:1]CO") == ("C(F)CO",)
    # one product per embedding: linear site + graph-only site
    assert apply_reaction("OC(C)CO", "[C:1]O", "[C:1]N") == ("OC(C)CN", "C(C)(CO)N")
    # a '.'-separated template yields disconnected components
    assert apply_reaction("C(OC)F", "[C:1]O[C:2]", "[C:1].[C:2]") == ("CF.C",)
    # aromatic attachment across the write order; ring closure survives
    assert apply_reaction("Cc1ccccc1", "[c:1]C", "[c:1]N") == ("c1(ccccc1)N",)
    # without a shared atom map the graph path declines (splice owns it)
    assert apply_reaction("C(F)(Cl)O", "CO", "CN") == ()


def test_graph_rewrite_ring_forming_templates():
    """Templates whose ring digits sit on MAPPED atoms bond two matched
    atoms the pattern leaves unbonded (cyclization rules).  The splice
    used to drop those digits silently — severing the new bond — so it
    now declines and the graph writer serializes the closure."""
    from omics_data_integration_utilities_spark.operators.smarts_engine import (
        apply_reaction,
    )

    # diol cyclization: both symmetric embeddings collapse to one ring
    assert apply_reaction("OCCCCO", "O[C:1]CC[C:2]O", "[C:1]1CC[C:2]1") == ("C1CCC1",)
    # chain-end closure with no deletions
    assert apply_reaction("CCCC", "[C:1]CC[C:2]", "[C:1]1CC[C:2]1") == ("C1CCC1",)
    # inserted ring digits renumber away from an OPEN substrate closure
    # (template digit 1 would otherwise pair with the substrate's ring 1)
    assert apply_reaction("C1CC(Cl)C1", "Cl", "c1ccccc1") == ("C1CC(c2ccccc2)C1",)
    # intermolecular pattern: components anchor independently
    assert apply_reaction("CO.NC", "[C:1]O.N[C:2]", "[C:1][C:2]") == ("CC",)


def test_self_pairing_ring_closure_rejected_spiro_reuse_accepted():
    """A closure pairing an atom with itself ("C11") is not a molecule —
    the parser rejects it (a self-loop edge crashed the serializer's
    back-edge bookkeeping before).  Same-digit REUSE on one atom (close
    then reopen, the spiro writing) stays legal."""
    import pytest

    from omics_data_integration_utilities_spark.operators.smarts_engine import (
        has_substructure,
        parse_graph,
    )

    for bad in ("C11", "CC11C"):
        with pytest.raises(ValueError):
            parse_graph(bad)
        assert has_substructure(bad, "C") is False  # graceful verdict
    # spiro: digit 1 closed then reopened on the shared atom — two fused
    # triangles: 4 chain edges + 2 ring edges over 5 atoms
    atoms, edges = parse_graph("C1CC11CC1")
    assert len(atoms) == 5 and len(edges) == 6


def test_graph_rewrite_ring_and_parity():
    """Ring-crossing embeddings keep the ring; the linear splice keeps
    priority on the shared subset (identical writings as before)."""
    from omics_data_integration_utilities_spark.operators.smarts_engine import (
        apply_reaction,
        parse_graph,
        serialize_graph,
    )

    # the O hangs off a ring atom: splice path handles it, ring intact
    assert apply_reaction("C1CCC1O", "[C:1]O", "[C:1]N") == ("C1CCC1N",)
    # splice-covered embeddings are not re-emitted by the graph path
    assert apply_reaction("CCC(=O)O", "[C:1](=[O:2])O", "[C:1](=[O:2])N") == ("CCC(=O)N",)
    # serializer round-trips a parsed graph deterministically
    atoms, edges = parse_graph("C1CC1O")
    assert serialize_graph([a.raw for a in atoms], edges) == "C1CC1O"
    atoms, edges = parse_graph("CC(F)(Cl)N")
    assert serialize_graph([a.raw for a in atoms], edges) == "CC(F)(Cl)N"


def test_structural_substructure_check():
    """K3 has_substructure: graph-embedding semantics incl. the relaxed
    ring rule (extra substrate bonds allowed, nothing is deleted)."""
    from omics_data_integration_utilities_spark.operators.smarts_engine import has_substructure

    assert has_substructure("CCO[N&X3:2]Cl[CH3]", "O[N&X3:2]Cl")
    assert has_substructure("CCO[N&X3:2]Cl[CH3]", "[CH3]")
    # graph semantics: Cl IS bonded to the [CH3] carbon (the old linear
    # matcher missed non-consecutive-token adjacency)
    assert has_substructure("CCO[N&X3:2]Cl[CH3]", "CCl")
    # ...but a bond that does not exist anywhere stays false
    assert not has_substructure("CCO[N&X3:2]Cl[CH3]", "OCl")
    assert not has_substructure("CCO[N&X3:2]Cl[CH3]", "C=O")
    # aromatic ring: pattern with closure matches a differently-numbered ring
    assert has_substructure("CCc2ccccc2C", "c1ccccc1")
    # pattern WITHOUT closures still embeds in ring atoms (extra bonds ok)
    assert has_substructure("c1ccccc1", "cc")
    assert has_substructure("c1ccccc1", "cccccc")
    # aromaticity is respected; wildcards are not
    assert not has_substructure("c1ccccc1", "CC")
    assert has_substructure("CNO", "*N*")
    # out-of-subset input -> False, never a crash
    assert not has_substructure("C@@H(weird)", "C")


def test_structural_substructure_branches():
    """Branched patterns embed in any branch order, chain patterns cross
    substrate branch points, and branch bonds are label-checked."""
    from omics_data_integration_utilities_spark.operators.smarts_engine import has_substructure

    # chain pattern across a substrate branch point
    assert has_substructure("C(F)N", "CN")
    assert not has_substructure("C(F)N", "FN")
    # branched pattern, either writing, against either substrate writing
    for sub in ("CC(=O)O", "CC(O)=O"):
        assert has_substructure(sub, "C(=O)O")
        assert has_substructure(sub, "C(O)=O")
    assert not has_substructure("CC(=O)O", "C(N)=O")
    # bond labels matter inside branches
    assert not has_substructure("CC(O)O", "C(=O)O")
    # branch + ring combined: toluene-ish
    assert has_substructure("Cc1ccccc1", "c1ccccc1C")
    assert has_substructure("Cc1ccccc1", "C(c(c)c)")
    # deeper branch nesting on the substrate side
    assert has_substructure("CC(C(F)Cl)N", "C(F)Cl")
    assert has_substructure("CC(C(F)Cl)N", "CN")


def test_ring_count_primitives():
    """r10 [R<n>] ring counts (canonical minimum cycle basis — the SSSR
    notion behind RDKit's NumAtomRings): pinned verdicts on the
    classical ring systems, in every bracket position (standalone,
    concrete-atom conjunct, list conjunct, negation)."""
    from omics_data_integration_utilities_spark.operators.smarts_engine import (
        _ensure_ring_counts,
        has_substructure,
        parse_graph,
    )

    def counts(s):
        atoms, edges = parse_graph(s)
        _ensure_ring_counts(atoms, edges)  # lazy fill (matcher chokepoint)
        return [a.ring_count for a in atoms]

    # per-atom counts on the canonical systems
    assert counts("c1ccccc1") == [1] * 6
    # naphthalene: the two fusion atoms sit in both hexagons
    assert counts("c1ccc2ccccc2c1") == [1, 1, 1, 2, 1, 1, 1, 1, 2, 1]
    # spiro[4.5]decane-ish: only the spiro atom is in two rings
    assert counts("C1CCC2(CC1)CCCC2") == [1, 1, 1, 2, 1, 1, 1, 1, 1, 1]
    # bicyclo fused triangles: the shared-edge atoms count 2
    assert counts("C1CC2CC12") == [1, 1, 2, 1, 2]
    # acyclic molecules are all R0
    assert counts("CC(F)O") == [0] * 4

    # bracket verdicts
    assert has_substructure("c1ccccc1", "[R1]")
    assert not has_substructure("c1ccccc1", "[R2]")
    assert has_substructure("c1ccc2ccccc2c1", "[R2]")
    assert has_substructure("CCO", "[R0]")
    assert not has_substructure("c1ccccc1", "[R0]")
    assert has_substructure("c1ccc2ccccc2c1", "[c;R1]")
    assert has_substructure("c1ccc2ccccc2c1", "[c;R2]")
    assert not has_substructure("c1ccccc1", "[c;R2]")
    assert has_substructure("C1CCNC1", "[C,N;R1]")
    assert has_substructure("c1ccccc1", "[!R2]")
    assert not has_substructure("c1ccc2ccccc2c1C", "[R3]")
    # R0 conjunct selects the acyclic atom of a mixed molecule
    assert has_substructure("Cc1ccccc1", "[C;R0]")
    assert not has_substructure("c1ccccc1", "[C;R0]")


def test_ring_count_budget_maps_to_outside_subset(monkeypatch):
    """A ring system past the cycle-enumeration budget must get the
    parse-failure contract on ring-COUNT queries — has_substructure
    False, rewrites no products, never a raised error reaching the
    caller — while bare [R]/[!R] (bridge analysis) stay valid."""
    import omics_data_integration_utilities_spark.operators.smarts_engine as se

    def clear():
        se.parse_graph.cache_clear()
        se.has_substructure.cache_clear()
        se.apply_reaction.cache_clear()

    clear()
    monkeypatch.setattr(se, "_CYCLE_ENUM_BUDGET", 0)
    try:
        assert se.has_substructure("C1CCCCC1", "[R1]") is False
        assert se.has_substructure("C1CCCCC1", "[R]") is True
        assert se.apply_reaction("C1CC1O", "[C;R1:1]O", "[C:1]N") == ()
        # acyclic atoms are R0 with no enumeration — unaffected by budget
        assert se.has_substructure("CCO", "[C;R0]") is True
    finally:
        clear()  # budget-poisoned parses must not leak into other tests


def test_structural_kernel_branched_patterns():
    """K1 rewrite with branched patterns: the branch-order linearization
    finds the embedding however the substrate writes it, and the rewrite
    preserves the textual splice semantics."""
    from omics_data_integration_utilities_spark.operators.smarts_engine import (
        _linearizations,
        apply_reaction,
    )

    assert _linearizations("C(=O)O") == ("C(=O)O", "C(O)=O")
    # acid -> amide in either substrate writing (RetroRules tree shapes)
    assert apply_reaction("CCC(=O)O", "[C:1](=[O:2])O", "[C:1](=[O:2])N") == ("CCC(=O)N",)
    assert apply_reaction("CCC(O)=O", "[C:1](=[O:2])O", "[C:1](=[O:2])N") == ("CCC(=O)N",)
    # paren-free patterns take the single-linearization fast path untouched
    assert _linearizations("Cl") == ("Cl",)
    # two-branch permutation: 2 branches + tail = 6 orderings, capped dedup
    lins = _linearizations("C(F)(Cl)Br")
    assert lins[0] == "C(F)(Cl)Br" and len(set(lins)) == len(lins) == 6


def test_ring_opening_rewrite_semantics():
    """Ring bonds between MAPPED atoms follow the template: omitted ->
    the ring opens (RDKit RunReactants parity — the old splice inherited
    the digits and kept the ring closed); repeated via the template's
    own pairing -> the ring survives; a pairing with a deleted endpoint
    never dangles."""
    from omics_data_integration_utilities_spark.operators.smarts_engine import apply_reaction

    # template omits the [C:1]-[C:2] ring bond: every product is open
    assert apply_reaction("C1CCC1", "[C:1]1CC[C:2]1", "[C:1]CC[C:2]") == ("CCCC",)
    prods = apply_reaction("OC1CCC1", "[C:1]1CC[C:2]1", "[C:1]CC[C:2]O")
    assert "OC1CCC1O" not in prods            # the closed-ring ghost is gone
    assert "OCCCCO" in prods
    assert all("1" not in p for p in prods)   # no ring survives an opening
    # template repeats the ring bond: the ring survives
    assert apply_reaction("C1CCC1O", "[C:1]1CC[C:2]1O", "[C:1]1CC[C:2]1N")[0] == "C1CCC1N"
    # deleting one endpoint of an internal pairing strips the digit too
    assert apply_reaction("CC1CC1", "[C:1]1CC1", "[C:1]") == ("CC", "C.C")
    # single-atom patterns keep inherited digits (pairing not covered)
    assert apply_reaction("c1ccccc1", "[c:1]", "[n:1]")[0] == "[n]1ccccc1"


def test_canonical_form_molecule_identity():
    """canonical_form: same molecule under different writings -> one
    form; distinct molecules stay distinct; stable across components and
    processes (md5-refined WL labels, no randomized hash())."""
    from omics_data_integration_utilities_spark.operators.smarts_engine import (
        apply_reaction,
        canonical_form,
    )

    assert canonical_form("C1CCC1N") == canonical_form("C1C(CC1)N")
    assert canonical_form("CC(F)O") == canonical_form("C(C)(F)O") == canonical_form("OC(C)F")
    assert canonical_form("CCCCO") == canonical_form("C(CCC)O")
    assert canonical_form("CCO") != canonical_form("COC")
    assert canonical_form("C.O") == canonical_form("O.C")
    assert canonical_form("c1ccccc1") != canonical_form("C1CCCCC1")  # aromaticity
    # graph products dedupe at molecule level (the reference's canonical
    # MolToSmiles guard): symmetric embeddings emit ONE product
    assert apply_reaction("C1CCC1O", "[C:1]1CC[C:2]1O", "[C:1]1CC[C:2]1N") == ("C1CCC1N",)


def test_compression_ratio_signal(spark):
    """Deflate-ratio quality signal: value equals a direct zlib
    computation, repetitive text compresses below random-ish text, and
    empty/null docs get ratio null + keep false."""
    import zlib

    from omics_data_integration_utilities_spark.operators.text import compression_ratio

    import hashlib

    rep = "spam " * 200
    # hex digests ≈ incompressible: ratio ~0.56, comfortably above the cut
    var = " ".join(hashlib.sha256(str(i).encode()).hexdigest() for i in range(20))
    df = spark.createDataFrame(
        [(1, rep), (2, var), (3, ""), (4, None)],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in compression_ratio(df, "text", "doc_id").collect()}
    for did, txt in ((1, rep), (2, var)):
        want = round(len(zlib.compress(txt.encode(), 6)) / len(txt.encode()), 6)
        assert abs(out[did]["ratio"] - want) < 1e-9
        assert out[did]["n_bytes"] == len(txt.encode())
    assert out[1]["ratio"] < out[2]["ratio"]
    assert out[1]["keep"] is False          # boilerplate: too compressible
    assert out[2]["keep"] is True
    assert out[3]["ratio"] is None and out[3]["keep"] is False
    assert out[4]["ratio"] is None and out[4]["keep"] is False


def test_scrub_pii_pattern_order_and_new_shapes(spark):
    """SSN and card shapes get their TYPED placeholders (pattern order
    puts them before the greedy phone digit-run), n_redactions counts
    each substitution once, and a digit run inside an already-replaced
    placeholder is not double-counted."""
    from omics_data_integration_utilities_spark.operators.text import scrub_pii

    df = spark.createDataFrame(
        [
            (1, "reach me: bob@x.org or 10.1.2.3"),
            (2, "ssn 123-45-6789 stays typed"),
            (3, "card 4242-4242-4242-4242 and card 4111 1111 1111 1111"),
            (4, "call +1 (555) 123-4567 now"),
            (5, "no pii here"),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in scrub_pii(df, "text", "doc_id").collect()}
    assert out[1]["scrubbed"] == "reach me: <EMAIL> or <IP>"
    assert out[1]["n_redactions"] == 2
    assert out[2]["scrubbed"] == "ssn <SSN> stays typed"
    assert out[2]["n_redactions"] == 1
    assert out[3]["scrubbed"] == "card <CARD> and card <CARD>"
    assert out[3]["n_redactions"] == 2
    assert out[4]["scrubbed"] == "call <PHONE> now"
    assert out[4]["n_redactions"] == 1
    assert out[5]["scrubbed"] == "no pii here" and out[5]["n_redactions"] == 0


def test_query_primitive_charge_and_combined():
    """Elem-less charge queries [+]/[-]/[+2] and their interaction with
    the rewrite engines: matching any atom with that exact formal
    charge, neutralization via a mapped charge query, and the product
    template guard (a charge query has nothing concrete to write)."""
    from omics_data_integration_utilities_spark.operators.smarts_engine import (
        apply_reaction,
        has_substructure,
    )

    assert has_substructure("C[N+]C", "[+]")
    assert not has_substructure("CNC", "[+]")
    assert has_substructure("C[O-]", "[-]")
    assert not has_substructure("C[O-]", "[+]")
    assert has_substructure("C[N+]C", "[+]C")
    assert has_substructure("[N+].[O-]", "[-]")
    # mapped charge query + concrete template = neutralization
    assert apply_reaction("C[N+]C", "[+:1]", "[N:1]") == ("C[N]C",)
    # charge query in the TEMPLATE: nothing concrete to write
    assert apply_reaction("C[N+]C", "[N:1]", "[+:1]") == ()


def test_recursive_smarts_primitives():
    """[$(SP)] matches atoms where SP embeds anchored at its FIRST atom;
    [!$(SP)] the complement; one nesting level only (nested $() falls
    outside the subset); a product template carrying one yields no
    products; rewrites route through the graph writer."""
    from omics_data_integration_utilities_spark.operators.smarts_engine import (
        apply_reaction,
        has_substructure,
    )

    assert has_substructure("CC(=O)O", "[$(C=O)]")          # carbonyl C
    assert not has_substructure("CCO", "[$(C=O)]")
    assert has_substructure("CCO", "[$(CO)]")
    assert not has_substructure("CC", "[$(CO)]")
    assert has_substructure("CC(=O)OC", "[$(C=O)]O")        # env atom + bond
    assert has_substructure("c1ccccc1C", "[$(c1ccccc1)]")
    assert not has_substructure("CCCCC", "[$(c1ccccc1)]")
    assert has_substructure("CO", "[!$(C)]")                # the O
    assert not has_substructure("C", "[!$(C)]")
    # environment-guarded rewrite (graph path owns rec patterns)
    assert apply_reaction("CCO", "[$(CO):1]O", "[N:1]O") == ("C[N]O",)
    # rec primitive in a product template: nothing concrete to write
    assert apply_reaction("CCO", "[C:1]", "[$(CO):1]") == ()
    # nested recursion is outside the subset → parse fails → False
    assert not has_substructure("CCO", "[$(C$(O))]")


def test_conjunct_brackets():
    """';'-conjuncts: low-precedence AND, equivalent to '&' for the
    parsed-over mods, plus ring/aromaticity conjuncts ([C;R] = aliphatic
    carbon in a ring); a conjunct template yields no products and
    conjunct rewrites route through the graph writer."""
    from omics_data_integration_utilities_spark.operators.smarts_engine import (
        apply_reaction,
        has_substructure,
    )

    assert has_substructure("C1CCC1C", "[C;R]")
    assert not has_substructure("CCCC", "[C;R]")
    assert has_substructure("C1CCC1C", "[C;!R]")
    assert not has_substructure("C1CCC1", "[C;!R]")
    assert has_substructure("Cn1cccc1", "[n;R]")
    assert has_substructure("CN", "[N;X3]")         # X parsed over, ignored
    assert has_substructure("C[NH1]", "[N;H1]")
    assert has_substructure("C[N+]", "[N;+]")
    assert not has_substructure("CN", "[N;+]")
    # graph path owns ring-conjunct rewrites; only the acyclic C matches
    assert apply_reaction("C1CCC1C", "[C;!R:1]", "[N:1]") == ("C1CCC1[N]",)
    assert apply_reaction("C1CCC1C", "[C:1]", "[C;R:1]") == ()


def test_stereo_marks_parse_and_ignore_rdkit_default():
    """Pattern-side stereo (r10): tetrahedral @/@@ and directional / \\
    marks are accepted and IGNORED at match time — RDKit's default
    useChirality=False, which is how the reference invokes matching —
    while the scope guards keep invalid and molecule-side stereo
    outside the subset."""
    from omics_data_integration_utilities_spark.operators.smarts_engine import (
        apply_reaction,
        has_substructure,
        strip_stereo,
    )

    assert strip_stereo("[C@H](N)O") == "[CH](N)O"
    assert strip_stereo("[C@@H3:1]Cl") == "[CH3:1]Cl"
    assert strip_stereo("[13C@H]") == "[13CH]"
    # directional marks are NOT text-stripped — both parsers keep them
    # as bond labels (writings preserved) and _bond_ok equates them
    # with the single bond at match time
    assert strip_stereo("C/C=C/O") == "C/C=C/O"
    # scope guards: '@' BETWEEN atoms is the SMARTS ring-bond query,
    # never stripped (incl. inside a recursive environment)
    assert strip_stereo("C@C") == "C@C"
    assert strip_stereo("[$(C@C)]") == "[$(C@C)]"
    # extended chirality classes strip as WHOLE tokens (late r10,
    # useChirality=False like @/@@): '@OH1' is octahedral-class-1, not
    # '@' + an H1 count; two-digit class ids never half-strip
    assert strip_stereo("[C@TH1]") == "[C]"
    assert strip_stereo("[C@OH1]") == "[C]"
    assert strip_stereo("[C@OH13]") == "[C]"
    assert strip_stereo("[C@TB20](N)O") == "[C](N)O"
    assert strip_stereo("[C@SP3H2:4]") == "[CH2:4]"

    sub = "CCO[N&X3:2]Cl[CH3]"
    assert has_substructure(sub, "[C@H3]") is True
    assert has_substructure(sub, "[C@@H3]Cl") is True
    # extended classes constrain nothing at match time (RDKit default)
    assert has_substructure(sub, "[C@TH1H3]Cl") is True
    assert has_substructure(sub, "[C@OH1]") is True
    assert has_substructure("CC=CO", "[$([C@SP1]=C)]") is True
    assert has_substructure(sub, "[!#1]/[N&X3:2]") is True
    # directional marks are orientation decorations of a single bond:
    # marked patterns match plain substrates AND vice versa, identical
    # markings self-match, and marks inside recursive environments are
    # equally ignored
    assert has_substructure("CC=CO", "C/C=C/O") is True
    assert has_substructure("C/C=C/O", "CC=CO") is True
    assert has_substructure("C/C=C/O", "C/C=C/O") is True
    assert has_substructure("CC=CO", "[$(C/C=C/O)]") is True
    # '@' BETWEEN atoms is the ring-bond query, not stereo — supported
    # on the pattern side (late r10): matches by ring membership
    assert has_substructure(sub, "C@Cl") is False          # no ring-bonded Cl
    assert has_substructure("C1CC1Cl", "C@C") is True
    assert has_substructure("CCO", "[$(C@C)]") is False    # no ring bond in CCO
    # molecule-side TETRAHEDRAL marks: outside the subset (honest
    # rejection — RDKit would preserve the marks in product writings
    # where we cannot); molecule-side directional marks parse and keep
    # their writing in products
    assert has_substructure("C[C@H](N)O", "CC") is False
    assert apply_reaction("C/C=C/O", "[O:1]", "[N:1]") == ("C/C=C/[N]",)

    # reactions: stereo on the pattern AND the template strips to the
    # plain rule's exact products
    plain = apply_reaction(sub, "[CH3:1]Cl", "[C:1]F")
    assert plain and apply_reaction(sub, "[C@H3:1]Cl", "[C:1]F") == plain
    assert apply_reaction(sub, "[CH3:1]Cl", "[C@@H3:1]F") == apply_reaction(
        sub, "[CH3:1]Cl", "[CH3:1]F"
    )


def test_stereo_molecule_identity_and_graph_path_honesty():
    """Second-review pins: orientation-agnostic molecule identity (no
    double-emission from mark-variant writings, no marks in the
    canonical writing), graph-path decline on directional substrates,
    and negation-safe rejection of unparseable recursive environments."""
    from omics_data_integration_utilities_spark.operators.smarts_engine import (
        apply_reaction,
        canonical_form,
        has_substructure,
    )

    # mark-variant writings of one molecule share one identity key, and
    # the canonical writing itself carries no directional mark (a
    # re-rooted traversal would have to flip it to keep the isomer)
    assert (
        canonical_form("F/C=C/F")
        == canonical_form("F\\C=C\\F")
        == canonical_form("FC=CF")
    )
    assert "/" not in canonical_form("F\\C=C\\F")
    # symmetric splice embeddings on a directional substrate dedup to
    # ONE product (the MolToSmiles-guard count), writing preserved
    assert apply_reaction("F/C=C\\F", "[F:1]", "[Cl:1]") == ("[Cl]/C=C\\F",)
    # the graph path declines directional substrates (its serializer
    # cannot guarantee the isomer reading under re-rooting), so a
    # pattern the splice cannot text-match yields no products — honest
    assert apply_reaction("F/C=C\\F", "F[C:1]", "Cl[C:1]") == ()
    # ring-bond queries resolve inside recursive environments: every
    # cyclopropane atom anchors a ring-bond C-C, so the negation
    # matches nothing; acyclic CCO is the mirror case
    assert has_substructure("C1CC1", "[!$(C@C)]") is False
    assert has_substructure("C1CC1", "[$(C@C)]") is True
    assert has_substructure("CCO", "[$(C@C)]") is False
    assert has_substructure("CCO", "[!$(C@C)]") is True
    # a genuinely unparseable recursive sub-pattern still rejects the
    # WHOLE pattern — including under negation, where an empty anchor
    # set would invert into match-everything (OutsideSubsetMatch);
    # '?' is outside the grammar ('~' graduated to a supported query)
    assert has_substructure("C1CC1", "[!$(C?C)]") is False
    assert has_substructure("C1CC1", "[$(C?C)]") is False
    # '~' inside a recursive environment resolves (any C-C bond)
    assert has_substructure("C1CC1", "[$(C~C)]") is True
    assert has_substructure("C1CC1", "[!$(C~C)]") is False


def test_ring_bond_query_primitives():
    """SMARTS ring-bond queries @ / !@ in pattern bond position (late
    r10): matched by non-bridge membership — RDKit IsInRing bond
    semantics — with molecule-side query bonds and query-qualified ring
    closures staying outside the subset."""
    from omics_data_integration_utilities_spark.operators.smarts_engine import (
        apply_reaction,
        has_substructure,
    )

    assert has_substructure("C1CC1Cl", "C@C") is True
    assert has_substructure("CCCl", "C@C") is False
    assert has_substructure("C1CC1Cl", "C!@Cl") is True
    assert has_substructure("C1CC1", "C!@C") is False     # every C-C bond cyclic
    assert has_substructure("c1ccccc1", "c@c") is True
    # fused/bridge discrimination: the biphenyl-style bridge bond is
    # the one acyclic c-c bond
    assert has_substructure("c1ccccc1c1ccccc1", "c!@c") is True
    assert has_substructure("c1ccccc1", "c!@c") is False
    # molecule-side query bond: outside; a PATTERN-side query-qualified
    # ring closure is IN the subset (late r10) — the cyclopropane
    # closure is a ring bond
    assert has_substructure("C@C", "CC") is False
    assert has_substructure("C1CC1", "C@1CC1") is True
    assert has_substructure("CCC", "C@1CC1") is False
    # rewrites: a ring-bond-query pattern drives the graph path; a
    # query bond in a TEMPLATE has nothing concrete to write
    assert apply_reaction("C1CC1Cl", "[C:1]!@Cl", "[C:1]F") == ("C1CC1F",)
    assert apply_reaction("C1CC1Cl", "[C:1]Cl", "[C:1]@F") == ()


def test_bond_conjunctions_daylight_semantics():
    """RDKit bond-AND conjunctions — implicit adjacency (``=@``),
    ``&`` (high AND) and ``;`` (low AND) — now evaluate with Daylight
    semantics (late r10; previously rejected); dangling/leading query
    bonds keep rejecting.  Substrate ring-CLOSURE edges stay
    order-wildcards (the engine's documented topology-only ring
    semantics: C1CC1 matches C=C), so conjunction verdicts follow that
    same model."""
    from omics_data_integration_utilities_spark.operators.smarts_engine import (
        has_substructure,
    )

    assert has_substructure("C1=CC1", "C=@C") is True    # double in ring
    assert has_substructure("CCC=CCC", "C=@C") is False  # acyclic double
    assert has_substructure("C1=CC1", "C=&@C") is True   # explicit & form
    assert has_substructure("C1=CC1", "C=;@C") is True   # low-AND form
    assert has_substructure("CC=C", "C@=C") is False     # ring-AND on acyclic
    assert has_substructure("C1CC1", "C=@C") is True     # closure edge: order-wildcard
    assert has_substructure("C=C", "C=!@C") is True      # double AND not-ring
    assert has_substructure("C1=CC1", "C=!@C") is False
    assert has_substructure("CCC", "C!@@C") is False     # unsatisfiable AND
    assert has_substructure("C=O", "C=-O") is False      # adjacency AND, not last-wins
    assert has_substructure("C1CC1", "C!@") is False     # dangling
    assert has_substructure("C1CC1", "@CC") is False     # leading
    assert has_substructure("C1CC1", "C(C!@)C") is False  # dangling in branch
    # the single-primitive forms stay supported
    assert has_substructure("C1CC1Cl", "C@C") is True
    assert has_substructure("C1CC1Cl", "C!@Cl") is True


def test_bond_expression_grammar():
    """Full Daylight bond expressions in pattern bond position (late
    r10): ``!`` negation > ``&``/adjacency > ``,`` > ``;`` with RDKit
    precedence; malformed forms and expression-qualified ring closures
    reject; mapped-pair rewrite decline extends to expressions."""
    from omics_data_integration_utilities_spark.operators.smarts_engine import (
        apply_reaction,
        has_substructure,
    )

    # negated primitives
    assert has_substructure("CO", "C!=O") is True
    assert has_substructure("C=O", "C!=O") is False
    assert has_substructure("C#N", "C!-N") is True
    assert has_substructure("CO", "C!~O") is False       # not-any: unsatisfiable
    # precedence: ',' binds tighter than ';'
    assert has_substructure("C1=CC1", "C-,=;@C") is True
    assert has_substructure("C=C", "C-,=;@C") is False
    assert has_substructure("C#N", "C=,#;!@N") is True
    assert has_substructure("CCCC", "C=,#;!@C") is False
    # OR of negations vs AND of negations
    assert has_substructure("C=C", "C!-,!=C") is True    # '=' fails !=, passes !-
    assert has_substructure("CC", "C!-&!=C") is False
    assert has_substructure("C#C", "C!-&!=C") is True
    # in a recursive environment
    assert has_substructure("CC=O", "[$(C=;!@O)]") is True
    # malformed: '!' with no primitive, trailing operator, double '!'
    assert has_substructure("CO", "C!O") is False
    assert has_substructure("CO", "C!!=O") is False
    assert has_substructure("CO", "C-,O") is False
    assert has_substructure("CO", "C-&O") is False
    assert has_substructure("CO", "C-;") is False
    # expression-qualified ring closure (in-subset late r10): '=;@' =
    # double AND in-ring; the substrate's UNQUALIFIED closure edge is an
    # order wildcard, so the satisfiable constraint passes
    assert has_substructure("C1CC1", "C=;@1CC1") is True
    assert has_substructure("CCC", "C=;@1CC1") is False
    # dangling expression before ')' / '(' and leading position
    assert has_substructure("C(O)N", "C!=(O)N") is False
    assert has_substructure("CO", "!=O") is False
    # rewrites: expression bond on a deleted atom proceeds; between
    # mapped atoms kept bonded, declines (query-bond policy)
    assert apply_reaction("CC=O", "[C:1]=;!@O", "[C:1]F") == ("CCF",)
    assert apply_reaction("CC=O", "[C:1]!-O", "[C:1]F") == ("CCF",)
    assert apply_reaction("C=O", "[C:1]=,-[O:2]", "[C:1][O:2]") == ()
    assert apply_reaction("C1=CC1Cl", "[C:1]!@Cl", "[C:1]F") == ("C1=CC1F",)


def test_any_bond_query_primitive():
    """SMARTS ~ (any bond) in pattern bond position — RDKit's most
    common bond query in rule tables — with the same conjunction /
    dangling / molecule-side guards as @ and !@."""
    from omics_data_integration_utilities_spark.operators.smarts_engine import (
        apply_reaction,
        has_substructure,
    )

    assert has_substructure("C=O", "C~O") is True
    assert has_substructure("CO", "C~O") is True
    assert has_substructure("CN", "C~O") is False
    assert has_substructure("CC=O", "[$(C~O)]") is True
    assert has_substructure("C=O", "C~~O") is True    # adjacency AND: any&any = any (late r10)
    assert has_substructure("C=O", "C~") is False     # dangling
    assert has_substructure("C~O", "CO") is False     # molecule-side
    assert apply_reaction("CC=O", "[C:1]~O", "[C:1]F") == ("CCF",)
    assert apply_reaction("CO", "[C:1]O", "[C:1]~F") == ()  # template query


def test_query_bond_mapped_rewrite_declines():
    """Fourth-review pin: a query bond between two mapped atoms kept
    bonded by the template declines the rewrite (RDKit preserves the
    matched reactant bond when the product bond is the unspecified
    default, indistinguishable from an explicit single after parsing —
    honest decline beats a silently different product); deletion-case
    rules and query-bond-before-branch rejection also pinned."""
    from omics_data_integration_utilities_spark.operators.smarts_engine import (
        apply_reaction,
        has_substructure,
    )

    assert apply_reaction("C=O", "[C:1]~[O:2]", "[C:1][O:2]") == ()
    assert apply_reaction("C1CC1", "[C:1]@[C:2]", "[C:1][C:2]") == ()
    # the query-bonded atom deleted (unmapped): rewrite proceeds
    assert apply_reaction("CC=O", "[C:1]~O", "[C:1]F") == ("CCF",)
    assert apply_reaction("C1CC1Cl", "[C:1]!@Cl", "[C:1]F") == ("C1CC1F",)
    # bond symbol before '(' is a SMARTS syntax error (RDKit parity)
    assert has_substructure("C(O)N", "C~(O)N") is False


def test_bond_or_list_query():
    """SMARTS bond OR-lists ('-,=' single-or-double, '-,:' the common
    aromatic-or-single idiom) in pattern bond position, with the full
    guard battery (dangling, conjunction, before-paren, molecule-side,
    mapped-pair rewrite decline); list-qualified ring closures stay
    outside the subset."""
    from omics_data_integration_utilities_spark.operators.smarts_engine import (
        apply_reaction,
        has_substructure,
    )

    assert has_substructure("C=O", "C-,=O") is True
    assert has_substructure("CO", "C-,=O") is True
    assert has_substructure("C#N", "C-,=N") is False
    assert has_substructure("c1ccccc1", "c-,:c") is True
    assert has_substructure("CC=O", "[$(C-,=O)]") is True
    assert has_substructure("C=O", "C-,=") is False
    # '-,=~O' parses as '-,(=&~)' under Daylight precedence (late r10):
    # single OR (double AND any) — satisfied by the double bond
    assert has_substructure("C=O", "C-,=~O") is True
    assert has_substructure("C#O", "C-,=~O") is False
    assert has_substructure("C(O)N", "C-,=(O)N") is False
    assert has_substructure("C-,=O", "CO") is False
    assert has_substructure("C1CC1", "C-,=1CC1") is True  # closure: in-subset (late r10)
    assert apply_reaction("CC=O", "[C:1]-,=O", "[C:1]F") == ("CCF",)
    assert apply_reaction("C=O", "[C:1]-,=[O:2]", "[C:1][O:2]") == ()


def test_closure_bond_expressions():
    """Expression-qualified ring closures (late r10): the expression
    labels the closure edge; both-digit conflicts decline; molecule-side
    query closures stay outside; rewrites honour the mapped-query-bond
    decline and template-query rules."""
    from omics_data_integration_utilities_spark.operators.smarts_engine import (
        apply_reaction,
        has_substructure,
        parse_graph,
    )

    # matching: the qualified closure evaluates like the same expression
    # inline; an unqualified substrate closure is the order wildcard
    assert has_substructure("C1CCCC1", "C-,=1CCCC1") is True
    assert has_substructure("C1CCCC1", "C~1CCCC1") is True
    assert has_substructure("c1ccccc1", "c:1ccccc1") is True
    assert has_substructure("C1=CCCC1", "C=1CCCC1") is True
    assert has_substructure("CCCCC", "C~1CCCC1") is False   # no ring
    assert has_substructure("C1CCCC1", "C!~1CCCC1") is False  # never
    # both digits qualified: textual agreement required (RDKit's
    # closure-bond mismatch error on conflict)
    assert has_substructure("C1CCCC1", "C-1CCCC-1") is True
    import pytest as _pytest
    with _pytest.raises(ValueError, match="bond mismatch"):
        parse_graph("C-1CCCC=1")
    assert has_substructure("C1CCCC1", "C-1CCCC=1") is False
    # directional closures compare by MATCH-equivalence class: a legal
    # SMILES directional closure writes opposite slashes at its two
    # ends, so /1...\\1 must keep parsing (regression guard — raw-text
    # equality would reject exactly the well-formed case)
    assert has_substructure("C/1CCCCC\\1", "C1CCCCC1") is True
    assert has_substructure("C1CCCCC1", "C/1CCCCC\\1") is True
    assert has_substructure("C/1CCCCC-1", "C1CCCCC1") is True
    # molecule side must still reject a query closure
    with _pytest.raises(ValueError):
        parse_graph("C~1CCCC1")
    # ring OPENING through a qualified closure: the template drops the
    # mapped pair's bond, so the rewrite is allowed
    assert apply_reaction("C1CCC1", "[C:1]~1CC[C:2]1", "[C:1]CC[C:2]") == ("CCCC",)
    # mapped query CLOSURE kept bonded by the template closure: declined
    # (RDKit preserves the matched bond; the template's written bond
    # would be a silently different product)
    assert apply_reaction("C1CCC1", "[C:1]~1CC[C:2]1", "[C:1]1CC[C:2]1") == ()
    # template closure carrying a query bond: nothing concrete to write
    assert apply_reaction("C1CCC1", "[C:1]1CC[C:2]1", "[C:1]~1CC[C:2]1") == ()


def test_funnel_counts_cumulative_and_one_scan(spark):
    """Funnel semantics are CUMULATIVE (a row failing stage 1 never
    counts for stage 2 even if stage 2's predicate holds), n_dropped
    attributes each loss to exactly one stage, and the whole funnel is
    one aggregate over one scan (no per-stage jobs: exactly one
    HashAggregate pair / no join in the plan)."""
    from pyspark.sql import functions as F

    from omics_data_integration_utilities_spark.operators.aggregates import (
        funnel_counts,
    )

    df = spark.createDataFrame(
        [(1, 10, "en"), (2, 100, "en"), (3, 100, "de"), (4, 5, "de")],
        "id long, n long, lang string",
    )
    out = funnel_counts(
        df,
        [("big", F.col("n") >= 50), ("english", F.col("lang") == "en")],
    )
    rows = {r["stage"]: r for r in out.collect()}
    assert rows["big"]["n_in"] == 4 and rows["big"]["n_surviving"] == 2
    assert rows["big"]["n_dropped"] == 2
    # id 1 is english but failed 'big' — must not survive 'english'
    assert rows["english"]["n_in"] == 2 and rows["english"]["n_surviving"] == 1
    assert rows["english"]["n_dropped"] == 1

    plan = out._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]  # AQE echoes both forms
    assert "Join" not in final
    # one partial+final aggregate pair, not one per stage
    assert final.count("HashAggregate") <= 2

    import pytest

    with pytest.raises(ValueError):
        funnel_counts(df, [])


def test_funnel_counts_empty_ungrouped_reports_zeros(spark):
    """Ungrouped agg over ZERO rows yields sum=NULL in Spark; the funnel
    must coalesce that to 0 so monitoring consumers see counts, never
    NULLs (r10 review finding)."""
    from pyspark.sql import functions as F

    from omics_data_integration_utilities_spark.operators.aggregates import (
        funnel_counts,
    )

    df = spark.createDataFrame([], "id long, n long")
    rows = funnel_counts(
        df, [("a", F.col("n") > 0), ("b", F.col("n") > 1)]
    ).collect()
    assert [(r["stage"], r["n_in"], r["n_surviving"], r["n_dropped"]) for r in rows] == [
        ("a", 0, 0, 0),
        ("b", 0, 0, 0),
    ]


def test_asof_join_semantics_ties_and_tolerance(spark):
    """As-of semantics pinned by hand: most recent right row at-or-before
    each left ts per key (equal ts matches), null when none precedes,
    and tolerance nulls out stale matches."""
    from omics_data_integration_utilities_spark.operators.joins import asof_join

    left = spark.createDataFrame(
        [(1, "u", 10, 1.0), (2, "u", 20, 2.0), (3, "u", 5, 3.0), (4, "v", 50, 4.0)],
        "event_id long, user_id string, us long, value double",
    )
    right = spark.createDataFrame(
        [("u", 10, 100.0), ("u", 15, 150.0), ("w", 1, 999.0)],
        "user_id string, us long, rv double",
    )
    rows = {
        r["event_id"]: (r["matched_us"], r["matched_rv"])
        for r in asof_join(left, right, ["user_id"], "us", ["rv"]).collect()
    }
    assert rows[1] == (10, 100.0)   # equal ts matches
    assert rows[2] == (15, 150.0)   # most recent, not first
    assert rows[3] == (None, None)  # nothing precedes
    assert rows[4] == (None, None)  # no right rows for key v

    rows_tol = {
        r["event_id"]: (r["matched_us"], r["matched_rv"])
        for r in asof_join(
            left, right, ["user_id"], "us", ["rv"], tolerance=4
        ).collect()
    }
    assert rows_tol[1] == (10, 100.0)   # age 0 <= 4
    assert rows_tol[2] == (None, None)  # age 5 > 4: stale


def test_asof_join_preserves_null_right_values(spark):
    """A matched right row whose VALUE is NULL must surface that NULL
    (DuckDB ASOF LEFT JOIN / pandas merge_asof semantics), not skip
    back to an older row's value — the r11-advice defect: per-column
    last(ignorenulls) carried (matched_us=20, matched_rv=100.0) for
    left (u,30) against right [(u,10,100.0),(u,20,NULL)]; the struct
    carry returns (20, None)."""
    from omics_data_integration_utilities_spark.operators.joins import asof_join

    left = spark.createDataFrame([(1, "u", 30)], "event_id long, user_id string, us long")
    right = spark.createDataFrame(
        [("u", 10, 100.0), ("u", 20, None)],
        "user_id string, us long, rv double",
    )
    rows = {
        r["event_id"]: (r["matched_us"], r["matched_rv"])
        for r in asof_join(left, right, ["user_id"], "us", ["rv"]).collect()
    }
    assert rows[1] == (20, None)
    # multi-value-column form: NULL in one field never disturbs the other
    right2 = spark.createDataFrame(
        [("u", 10, 100.0, "a"), ("u", 20, None, "b")],
        "user_id string, us long, rv double, tag string",
    )
    rows2 = {
        r["event_id"]: (r["matched_us"], r["matched_rv"], r["matched_tag"])
        for r in asof_join(left, right2, ["user_id"], "us", ["rv", "tag"]).collect()
    }
    assert rows2[1] == (20, None, "b")


def test_weighted_sample_properties(spark):
    """Weighted sampling invariants: exact n when available, all-rows
    when n exceeds the corpus, zero/negative weights never selected,
    partitioning-invariant, and heavier weights win in expectation
    (checked deterministically: with one weight 1000x the rest at n=1,
    the heavy row must be the draw for this fixed salt... no — the draw
    is random-by-hash; instead check the aggregate lean over many ids)."""
    from pyspark.sql import functions as F

    from omics_data_integration_utilities_spark.operators.sampling import (
        weighted_sample,
    )

    df = spark.createDataFrame(
        [(i, 1.0 if i < 500 else 100.0) for i in range(600)]
        + [(990, 0.0), (991, -2.0)],
        "doc_id long, w double",
    )
    out = weighted_sample(df, "doc_id", "w", n=100)
    rows = out.collect()
    assert len(rows) == 100
    ids = {r["doc_id"] for r in rows}
    assert 990 not in ids and 991 not in ids
    # 100 heavy rows at 100x vs 500 light rows: the sample must lean
    # overwhelmingly heavy (expected ~97 heavy; a uniform sampler would
    # draw ~17 — any value above 60 separates the hypotheses decisively)
    n_heavy = sum(1 for r in rows if r["w"] == 100.0)
    assert n_heavy > 60, n_heavy
    # partitioning-invariant and n > corpus returns everything eligible
    again = {r["doc_id"] for r in weighted_sample(df.repartition(7), "doc_id", "w", 100).collect()}
    assert again == ids
    assert weighted_sample(df, "doc_id", "w", n=10_000).count() == 600


def test_upsert_snapshot_semantics(spark):
    """MERGE semantics pinned: updates replace same-key rows, new keys
    insert, untouched rows carry through; counts reconcile exactly."""
    from omics_data_integration_utilities_spark.operators.joins import upsert_snapshot

    target = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "k long, v string"
    )
    updates = spark.createDataFrame(
        [(2, "B2"), (9, "new")], "k long, v string"
    )
    merged = upsert_snapshot(target, updates, ["k"])
    got = {r["k"]: r["v"] for r in merged.collect()}
    assert got == {1: "a", 2: "B2", 3: "c", 9: "new"}
    # idempotent: re-applying the same batch changes nothing
    again = {
        r["k"]: r["v"]
        for r in upsert_snapshot(merged, updates, ["k"]).collect()
    }
    assert again == got


def test_value_histogram_semantics(spark):
    """Histogram edges pinned by hand: half-open bins, under/overflow,
    the just-under-hi clamp, null drop, and counts reconcile to the
    non-null total."""
    from omics_data_integration_utilities_spark.operators.aggregates import (
        value_histogram,
    )
    import pytest

    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(
            [-5.0, 0.0, 9.999, 10.0, 19.999999999999996, 20.0, None]
        )],
        "i long, v double",
    )
    rows = {r["bin"]: (r["bin_lo"], r["bin_hi"], r["n"]) for r in
            value_histogram(df, "v", 0.0, 20.0, 2).collect()}
    assert rows[-1] == (-10.0, 0.0, 1)        # underflow
    assert rows[0] == (0.0, 10.0, 2)          # [0, 10): 0.0, 9.999
    assert rows[1] == (10.0, 20.0, 2)         # [10, 20): 10.0 and the clamp case
    assert rows[2] == (20.0, 30.0, 1)         # overflow: 20.0
    assert sum(n for _, _, n in rows.values()) == 6  # null dropped
    with pytest.raises(ValueError):
        value_histogram(df, "v", 0.0, 20.0, 0)
    with pytest.raises(ValueError):
        value_histogram(df, "v", 20.0, 0.0, 4)


# ---------------------------------------------------------------------------
# profile_table (r13)


def test_profile_table_approx_tracks_exact(spark):
    """The HLL++ approx mode (the 100 TB path: single pass, no Expand)
    must land within the configured rsd envelope of the exact mode on
    every documents column."""
    from omics_data_integration_utilities_spark.operators.profile import profile_table

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    exact = {
        r["col_name"]: r["n_distinct"] for r in profile_table(docs).collect()
    }
    approx = {
        r["col_name"]: r["n_distinct"]
        for r in profile_table(docs, approx=True, rsd=0.05).collect()
    }
    assert set(exact) == set(approx)
    for c, nd in exact.items():
        # 4 sigma of the HLL++ relative standard deviation, floor of 4
        # for tiny cardinalities where the sketch is near-exact anyway
        tol = max(4, 4 * 0.05 * nd)
        assert abs(approx[c] - nd) <= tol, (c, nd, approx[c])


def test_profile_table_null_and_extrema_semantics(spark):
    """NULL accounting, native-type (not lexicographic) extrema, and the
    all-null column edge: n_distinct 0, min/max NULL."""
    from pyspark.sql import functions as F

    from omics_data_integration_utilities_spark.operators.profile import profile_table

    df = spark.range(0, 10).select(
        F.col("id"),
        F.when(F.col("id") < 3, F.col("id") * 100).alias("sparse"),
        F.lit(None).cast("string").alias("allnull"),
    )
    rows = {r["col_name"]: r for r in profile_table(df).collect()}
    assert rows["id"]["n_nulls"] == 0
    # native ordering: min 0 / max 9, NOT the lexicographic max "9"->"900"
    assert rows["id"]["min_value"] == "0" and rows["id"]["max_value"] == "9"
    assert rows["sparse"]["n_nonnull"] == 3
    assert rows["sparse"]["n_distinct"] == 3
    assert rows["sparse"]["null_frac"] == 0.7
    assert rows["allnull"]["n_distinct"] == 0
    assert rows["allnull"]["min_value"] is None
    assert rows["allnull"]["max_value"] is None


def test_profile_table_validates_columns(spark):
    import pytest

    from omics_data_integration_utilities_spark.operators.profile import profile_table

    df = spark.range(3)
    with pytest.raises(ValueError):
        profile_table(df, ["nope"])
    with pytest.raises(ValueError):
        profile_table(df, [])


def test_profile_numeric_approx_tracks_exact(spark):
    """profile_numeric's GK-sketch mode (the bounded-state 100 TB path)
    must agree with the exact-percentile mode on the moments exactly
    (same streaming aggregates) and land quantiles within the sketch's
    rank-error envelope."""
    from omics_data_integration_utilities_spark.operators.profile import profile_numeric

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    ev = spark.read.parquet("/root/testdata/sf0.01/events.parquet")
    cols = ["value", "user_id"]
    exact = {r["col_name"]: r.asDict() for r in profile_numeric(ev, cols).collect()}
    approx = {
        r["col_name"]: r.asDict()
        for r in profile_numeric(ev, cols, approx=True, accuracy=10_000).collect()
    }
    n = ev.count()
    for c in cols:
        for k in ("n_nonnull", "mean", "stddev", "min_value", "max_value"):
            assert exact[c][k] == approx[c][k], (c, k)
        # GK at accuracy a guarantees RANK error <= n/a, not a value
        # envelope (value error blows up where the density is thin), so
        # assert the guarantee itself: the rank of the returned value
        # sits within 2n/a + 1 of the target rank
        from pyspark.sql import functions as F

        for q, frac in (("q_0_25", 0.25), ("q_0_5", 0.5), ("q_0_75", 0.75)):
            # a duplicated value OCCUPIES a rank interval [count(<v),
            # count(<=v)]; the guarantee is that this interval touches
            # the target rank within tolerance
            lo = ev.where(F.col(c) < approx[c][q]).count()
            hi = ev.where(F.col(c) <= approx[c][q]).count()
            tol = 2 * (n / 10_000) + 1
            assert lo - tol <= frac * n <= hi + tol, (c, q, lo, hi, frac * n)


def test_profile_numeric_validates_inputs(spark):
    import pytest

    from omics_data_integration_utilities_spark.operators.profile import profile_numeric

    df = spark.range(5)
    with pytest.raises(ValueError):
        profile_numeric(df, [])
    with pytest.raises(ValueError):
        profile_numeric(df, ["nope"])
    with pytest.raises(ValueError):
        profile_numeric(df, ["id"], quantiles=[1.5])


def test_profile_sketches_merge_matches_whole(spark):
    """Mergeable profiles: folding per-slice summaries must reproduce
    the whole-table profile — scalars (counts, min/max) EXACTLY, and
    the HLL distinct estimate within the sketch envelope (union uses
    the composite estimator, so slice-union and whole-table sketches
    may differ in the last percent — never beyond 4 sigma of
    1.04/sqrt(2^lg_k))."""
    from pyspark.sql import functions as F

    from omics_data_integration_utilities_spark.operators.profile import (
        estimate_profile,
        merge_profile_sketches,
        profile_sketches,
        profile_table,
    )

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    slices = [
        profile_sketches(docs.where(F.col("doc_id") % 3 == i), slice_id=str(i))
        for i in range(3)
    ]
    u = slices[0]
    for s in slices[1:]:
        u = u.unionByName(s)
    merged = {
        r["col_name"]: r.asDict()
        for r in estimate_profile(merge_profile_sketches(u.drop("slice_id"))).collect()
    }
    exact = {
        r["col_name"]: r.asDict() for r in profile_table(docs).collect()
    }
    assert set(merged) == set(exact)
    rse = 1.04 / (2**12) ** 0.5
    for c in exact:
        for k in ("n_rows", "n_nonnull", "n_nulls", "null_frac",
                  "min_value", "max_value"):
            assert merged[c][k] == exact[c][k], (c, k)
        nd = exact[c]["n_distinct"]
        assert abs(merged[c]["n_distinct"] - nd) <= max(4, 4 * rse * nd), (
            c, merged[c]["n_distinct"], nd,
        )


def test_profile_sketches_slice_rows_are_tiny_and_tagged(spark):
    """The per-slice summary is |cols| rows with a bounded-size sketch
    binary — the thing a monitor persists instead of history."""
    from omics_data_integration_utilities_spark.operators.profile import (
        profile_sketches,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    rows = profile_sketches(docs, ["doc_id", "source"], slice_id="day1").collect()
    assert len(rows) == 2
    for r in rows:
        assert r["slice_id"] == "day1"
        # lg_k=12 dense HLL is 4KB-ish; generous ceiling
        assert 0 < len(r["distinct_sketch"]) < 16_384


def test_profile_sketches_merge_cross_magnitude_extrema(spark):
    """Review regression (r13): merged extrema of numeric columns must
    fold NUMERICALLY across slices whose rendered strings would order
    wrong lexicographically ('9' vs '100', negatives), while string
    columns keep lexicographic folding."""
    from omics_data_integration_utilities_spark.operators.profile import (
        estimate_profile,
        merge_profile_sketches,
        profile_sketches,
    )

    a = spark.createDataFrame(
        [(-5, "9", 1.5)], "k long, s string, v double"
    )
    b = spark.createDataFrame(
        [(-40, "100", 0.25), (7, "zz", 20.0)], "k long, s string, v double"
    )
    merged = {
        r["col_name"]: r.asDict()
        for r in estimate_profile(
            merge_profile_sketches(
                profile_sketches(a).unionByName(profile_sketches(b))
            )
        ).collect()
    }
    assert merged["k"]["min_value"] == "-40" and merged["k"]["max_value"] == "7"
    assert merged["v"]["min_value"] == "0.25" and merged["v"]["max_value"] == "20.0"
    # string column: lexicographic IS the column's ordering
    assert merged["s"]["min_value"] == "100" and merged["s"]["max_value"] == "zz"


def test_profile_numeric_rejects_scientific_quantile_names(spark):
    """Review regression (r13): tiny quantiles must produce valid
    fixed-point column names (or a clear ValueError), never a hyphenated
    'q_1e-05' that dies inside the SQL parser."""
    from omics_data_integration_utilities_spark.operators.profile import (
        profile_numeric,
    )

    df = spark.range(100).selectExpr("cast(id as double) as x")
    out = profile_numeric(df, ["x"], quantiles=[1e-05, 0.5])
    names = out.columns
    assert "q_0_00001" in names and "q_0_5" in names
    assert out.count() == 1


def test_profile_sketches_empty_slice_merge_noop(spark):
    """Merging the summary of an EMPTY slice (a quiet ingest day) must
    not move any statistic."""
    from pyspark.sql import functions as F

    from omics_data_integration_utilities_spark.operators.profile import (
        estimate_profile,
        merge_profile_sketches,
        profile_sketches,
    )

    df = spark.createDataFrame([(1, "a"), (2, "b")], "k long, s string")
    empty = df.where(F.lit(False))
    with_empty = estimate_profile(
        merge_profile_sketches(
            profile_sketches(df).unionByName(profile_sketches(empty))
        )
    ).collect()
    alone = estimate_profile(
        merge_profile_sketches(profile_sketches(df))
    ).collect()
    canon = lambda rows: sorted(tuple(r) for r in rows)  # noqa: E731
    assert canon(with_empty) == canon(alone)
    assert {r["min_value"] for r in with_empty} == {"1", "a"}


def test_profile_merge_mixed_kind_slices_fold_lexicographic(spark):
    """ADVICE r14: a numeric slice merged with a legacy slice (which
    defaults to kind 'other') must take the documented lexicographic
    fallback — by the explicit any-non-numeric rule, not the accident
    that 'other' > 'numeric' sorts last."""
    from omics_data_integration_utilities_spark.operators.profile import (
        estimate_profile,
        merge_profile_sketches,
        profile_sketches,
    )

    a = spark.createDataFrame([(9,), (100,)], "k long")
    b = spark.createDataFrame([(30,)], "k long")
    legacy_b = profile_sketches(b).drop("col_kind", "min_num", "max_num")
    merged = estimate_profile(
        merge_profile_sketches(profile_sketches(a).unionByName(legacy_b, allowMissingColumns=True))
    ).collect()
    assert len(merged) == 1
    row = merged[0].asDict()
    # lexicographic fold over the per-slice renderings: mins {'9','30'},
    # maxes {'100','30'} — the documented legacy fallback, NOT numeric
    assert row["min_value"] == "30" and row["max_value"] == "30"
    # all-numeric merges still fold numerically (control)
    ctl = estimate_profile(
        merge_profile_sketches(
            profile_sketches(a).unionByName(profile_sketches(b))
        )
    ).collect()[0].asDict()
    assert ctl["min_value"] == "9" and ctl["max_value"] == "100"
