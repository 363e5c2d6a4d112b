"""Tests for the applyInPandas kernels (K10-K13) and sources (S6)."""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from omics_data_integration_utilities_spark.analytics.clustering import (
    _complete_linkage_cut,
    cluster_mean_profiles,
    cluster_probes,
)
from omics_data_integration_utilities_spark.analytics.kernels import (
    count_glm_offset,
    knn_impute,
    partial_correlations,
)
from omics_data_integration_utilities_spark.operators.multimodal import (
    documents_as_media,
    extract_features,
    fake_decoder,
)
from omics_data_integration_utilities_spark.sources.rest import fetch_tsv_source


def test_complete_linkage_two_blocks():
    # two tight blocks far apart → exactly two clusters at h=0.5
    d = np.array(
        [
            [0.0, 0.1, 0.9, 0.9],
            [0.1, 0.0, 0.9, 0.9],
            [0.9, 0.9, 0.0, 0.1],
            [0.9, 0.9, 0.1, 0.0],
        ]
    )
    labels = _complete_linkage_cut(d, 0.5)
    assert labels[0] == labels[1]
    assert labels[2] == labels[3]
    assert labels[0] != labels[2]


def test_cluster_probes_and_profiles(spark):
    rows = []
    for s in range(6):
        base = float(s)
        rows += [
            ("g1", "pA", f"s{s}", base),
            ("g1", "pB", f"s{s}", base * 1.01 + 0.1),  # correlated with pA
            ("g1", "pC", f"s{s}", -base),  # anti-correlated
        ]
    df = spark.createDataFrame(rows, "gene string, probe string, sample string, beta double")
    cl = cluster_probes(df, "gene", "probe", "sample", "beta", cut_height=0.6)
    got = {r["probe"]: r["cluster"] for r in cl.collect()}
    assert got["pA"] == got["pB"]
    assert got["pC"] != got["pA"]
    prof = cluster_mean_profiles(df, cl, "gene", "probe", "sample", "beta")
    assert prof.count() == 2 * 6  # two clusters × six samples


def test_knn_impute_fills_missing(spark):
    rows = [
        ("b", "r1", "c1", 1.0), ("b", "r1", "c2", 2.0),
        ("b", "r2", "c1", 1.1), ("b", "r2", "c2", None),
        ("b", "r3", "c1", 0.9), ("b", "r3", "c2", 2.2),
    ]
    df = spark.createDataFrame(rows, "block string, row string, col string, v double")
    out = {(r["row"], r["col"]): (r["v"], r["imputed"]) for r in
           knn_impute(df, "block", "row", "col", "v", k=2).collect()}
    v, imputed = out[("r2", "c2")]
    assert imputed is True
    assert 1.9 < v < 2.3  # mean of neighbours' c2 values
    assert out[("r1", "c1")] == (1.0, False)


def test_partial_corr_chain(spark):
    # chain x → y → z: pcor(x,z | y) should be near 0, pcor(x,y) strong
    rng = np.random.RandomState(3)
    x = rng.normal(size=200)
    y = x + rng.normal(scale=0.3, size=200)
    z = y + rng.normal(scale=0.3, size=200)
    rows = []
    for i in range(200):
        rows += [("b", f"s{i}", "x", float(x[i])), ("b", f"s{i}", "y", float(y[i])),
                 ("b", f"s{i}", "z", float(z[i]))]
    df = spark.createDataFrame(rows, "block string, sample string, var string, v double")
    out = {(r["var_a"], r["var_b"]): r["pcor"] for r in
           partial_correlations(df, "block", "var", "sample", "v", shrinkage=0.01).collect()}
    assert out[("x", "y")] > 0.5
    assert abs(out[("x", "z")]) < 0.2


def test_poisson_glm_recovers_rate_ratio(spark):
    # group b has 3× the rate of group a at equal exposure
    rows = [("blk", "a", 100.0, 1000.0), ("blk", "b", 300.0, 1000.0),
            ("blk", "a", 110.0, 1100.0), ("blk", "b", 320.0, 1050.0)]
    df = spark.createDataFrame(rows, "block string, grp string, n double, exposure double")
    out = {r["coef"]: r for r in
           count_glm_offset(df, "block", "n", "grp", "exposure", dispersion=0.0).collect()}
    est = out["grp=b"]["estimate"]
    assert abs(est - np.log(3)) < 0.1
    assert out["grp=b"]["z"] > 5


def test_multimodal_stub_raises_without_decoder(spark):
    import pytest

    docs = spark.createDataFrame([(1, "hello world")], "doc_id long, text string")
    media = documents_as_media(docs)
    with pytest.raises(NotImplementedError):
        extract_features(media, decoder=None)


def test_multimodal_fake_decoder_deterministic(spark):
    docs = spark.createDataFrame([(1, "hello world")], "doc_id long, text string")
    media = documents_as_media(docs)
    a = extract_features(media, decoder=fake_decoder).collect()[0]
    b = extract_features(media, decoder=fake_decoder).collect()[0]
    assert a == b
    assert a["n_bytes"] == 11
    assert len(a["feature"]) == 4


def test_multimodal_decode_resize_frames(spark):
    """The full media op set (decode / resize / frame-sample) over the
    binary-column plumbing: real Arrow batch iteration and schemas, fake
    codecs; corrupt media yields ok=false rows, not task failures; the
    frame sampler is a true 1->N fan-out capped per video."""
    from omics_data_integration_utilities_spark.operators.multimodal import (
        decode_media,
        fake_frame_decoder,
        fake_probe,
        fake_resizer,
        resize_media,
        sample_frames,
    )

    docs = spark.createDataFrame(
        [(1, "hello world"), (2, "a much longer document body for slicing frames")],
        "doc_id long, text string",
    )
    media = documents_as_media(docs)

    dec = {r["media_id"]: r for r in decode_media(media, decoder=fake_probe).collect()}
    assert dec[1]["ok"] and dec[2]["ok"]
    assert dec[1]["width"] % 16 == 0 and 1 <= dec[1]["n_channels"] <= 4
    # a decoder that rejects the payload produces ok=false, no task error
    def picky(payload):
        raise ValueError("corrupt")
    bad = decode_media(media, decoder=picky).collect()
    assert all((not r["ok"]) and r["width"] is None for r in bad)

    rs = {r["media_id"]: r for r in resize_media(media, 32, 16, resizer=fake_resizer).collect()}
    assert rs[1]["width"] == 32 and rs[1]["height"] == 16
    assert rs[1]["n_bytes"] == rs[2]["n_bytes"] == max(8, 32 * 16 // 64)
    assert rs[1]["media"] != rs[2]["media"]  # content-derived, not constant

    # duration defaults to payload-length ms: doc 1 has 11 bytes -> at
    # 4 ms spacing floor(11/4)+1 = 3 frames; doc 2 (46 bytes) caps at 5
    fr = sample_frames(
        media, frame_decoder=fake_frame_decoder, interval_ms=4, max_frames=5
    ).collect()
    per = {}
    for r in fr:
        per.setdefault(r["media_id"], []).append(r)
    assert len(per[1]) == 3 and len(per[2]) == 5
    assert [r["ts_ms"] for r in sorted(per[1], key=lambda r: r["frame_idx"])] == [0, 4, 8]
    assert all(r["frame_len"] == len(r["frame"]) for r in fr)
    # deterministic across partitionings (content-hash ids downstream)
    fr2 = sample_frames(
        media.repartition(5), frame_decoder=fake_frame_decoder, interval_ms=4, max_frames=5
    ).collect()
    assert sorted(map(tuple, fr)) == sorted(map(tuple, fr2))


def test_rest_source_with_fake_transport(spark):
    text = "#header\nP12345\tPF00001\nP67890\tPF00002\n"
    df = fetch_tsv_source(
        spark, "https://example.test/list", "uniprot string, pfam string",
        fetch=lambda url: text,
    )
    rows = sorted(tuple(r) for r in df.collect())
    assert rows == [("P12345", "PF00001"), ("P67890", "PF00002")]


# --------------------------------------------------------------------------
# K8 beta-mixture kernel (MethylMix.R:313-419, 458-558, 572-653)
# --------------------------------------------------------------------------

def test_beta_est_recovers_parameters():
    from omics_data_integration_utilities_spark.analytics.methylmix import _beta_est

    rng = np.random.RandomState(3)
    y = rng.beta(5.0, 2.0, 8000)
    ones = np.ones(len(y))
    a, b = _beta_est(y, ones, ones)
    assert abs(a - 5.0) < 0.35 and abs(b - 2.0) < 0.15


def test_beta_est_degenerate_inputs():
    from omics_data_integration_utilities_spark.analytics.methylmix import _beta_est

    ones = np.ones(1)
    assert _beta_est(np.array([0.5]), ones, ones) == (1.0, 1.0)
    # two observations: moment estimate, no optimization (betaEst_2 branch)
    a, b = _beta_est(np.array([0.3, 0.5]), np.ones(2), np.ones(2))
    assert a > 0 and b > 0


def test_wilcoxon_exact_branch_matches_enumeration():
    """Small samples without ties take R's exact branch; ground truth by
    brute-force enumeration of every rank arrangement."""
    import itertools

    from omics_data_integration_utilities_spark.analytics.methylmix import _wilcox_p

    def brute_p(x, y):
        n, m = len(x), len(y)
        u_obs = sum(xi > yj for xi in x for yj in y)
        us = np.array(
            [
                sum(1 for a in comb for b in range(n + m) if b not in comb and a > b)
                for comb in itertools.combinations(range(n + m), n)
            ]
        )
        p = (us >= u_obs).mean() if u_obs > n * m / 2 else (us <= u_obs).mean()
        return min(1.0, 2 * p)

    cases = [
        (np.arange(1.0, 6.0), np.arange(6.0, 11.0)),  # fully separated: 2/252
        (np.array([1.0, 3.0, 5.0, 7.0]), np.array([2.0, 4.0, 6.0, 8.0])),
        (np.arange(1.0, 11.0), np.array([1.5, 2.5, 11.0, 12.0, 13.0])),
    ]
    for x, y in cases:
        assert abs(_wilcox_p(x, y) - brute_p(x, y)) < 1e-12


def test_wilcoxon_normal_approximation_with_ties():
    from omics_data_integration_utilities_spark.analytics.methylmix import _wilcox_p

    # ties force the large-sample branch: U cross-checked by pair counting
    # with half-credit on ties; z with tie-corrected variance + continuity
    x = np.array([1.0, 2.0, 2.0, 3.0, 4.0])
    y = np.array([2.0, 3.0, 5.0, 6.0])
    p = _wilcox_p(x, y)
    assert 0.0 < p < 1.0
    assert _wilcox_p(x, x.copy()) == 1.0
    # shifted distributions (large n → approx branch) → tiny p
    rng = np.random.RandomState(5)
    assert _wilcox_p(rng.beta(2, 8, 200), rng.beta(8, 2, 200)) < 1e-10


def test_flipover_two_components_reassigns_minor_run():
    from omics_data_integration_utilities_spark.analytics.methylmix import (
        _remove_flipover,
    )

    # the flip-over pattern is state runs A|B|A along the sorted axis where
    # the two boundary diffs cancel (diff1 == -diff2); R sizes the runs as
    # stateSize1 = s1 and stateSize2 = s3 - 1, so a flip needs s3 >= s1 + 2
    x = np.linspace(0.01, 0.99, 10)
    order = np.arange(10)
    # runs 1|6|3: stateSize1=1, stateSize2=2 → head run absorbed into B
    meth = np.array([0.5, -0.3, -0.3, -0.3, -0.3, -0.3, -0.3, 0.5, 0.5, 0.5])
    cls = np.array([2, 1, 1, 1, 1, 1, 1, 2, 2, 2])
    m3, c3, learned3 = _remove_flipover(order, meth.copy(), cls.copy(), x, 2)
    assert learned3 == 2
    assert m3[0] == -0.3 and c3[0] == 1
    # runs 2|6|2: stateSize1=2, stateSize2=1 → tail run absorbed instead
    meth = np.array([0.5, 0.5, -0.3, -0.3, -0.3, -0.3, -0.3, -0.3, 0.5, 0.5])
    cls = np.array([2, 2, 1, 1, 1, 1, 1, 1, 2, 2])
    m2, c2, learned2 = _remove_flipover(order, meth.copy(), cls.copy(), x, 2)
    assert learned2 == 1
    assert m2[8] == -0.3 and m2[9] == -0.3 and c2[8] == 1


def test_model_single_gene_one_component_not_significant():
    from omics_data_integration_utilities_spark.analytics.methylmix import (
        model_single_gene,
    )

    rng = np.random.RandomState(9)
    x = np.sort(rng.beta(5, 5, 300))
    xn = np.sort(rng.beta(5, 5, 200))  # same distribution → no DM call
    res = model_single_gene(x, xn)
    assert res["nr_components"] == 1
    assert res["mixture_states"][0] == 0.0  # not significant → state stays 0
    assert np.all(res["methylation_states"] == 0.0)


def test_model_single_gene_dm_vs_normal():
    from omics_data_integration_utilities_spark.analytics.methylmix import (
        model_single_gene,
    )

    rng = np.random.RandomState(13)
    x = np.sort(np.concatenate([rng.beta(2, 18, 250), rng.beta(18, 2, 250)]))
    xn = np.sort(rng.beta(2, 18, 200))  # normals look like the low component
    res = model_single_gene(x, xn)
    assert res["nr_components"] == 2
    # high component is differentially methylated vs normal; low is not
    states = np.sort(res["mixture_states"])
    assert states[-1] > 0.5
    assert res["dm_pvalues"][int(np.argmax(res["mu"]))] < 0.01


# --------------------------------------------------------------------------
# K13 NB-GLM with dispersion + ROC (Figure_6_Feber_ROC.R:54-56, functions.R)
# --------------------------------------------------------------------------

def test_nb_glm_matches_closed_form(spark):
    """Equal offsets within groups → the NB-GLM MLE has a closed form:
    group mean rates; SE and LR are then hand-computable."""
    import math

    from omics_data_integration_utilities_spark.analytics.kernels import (
        count_glm_offset,
    )

    phi = 0.05
    ya = [90.0, 100.0, 110.0, 95.0, 105.0]
    yb = [280.0, 300.0, 320.0, 310.0, 290.0]
    rows = [("blk", "a", v, 1.0) for v in ya] + [("blk", "b", v, 1.0) for v in yb]
    df = spark.createDataFrame(rows, "block string, grp string, n double, exposure double")
    out = {r["coef"]: r for r in
           count_glm_offset(df, "block", "n", "grp", "exposure", dispersion=phi).collect()}
    ma, mb = np.mean(ya), np.mean(yb)
    est = out["grp=b"]["estimate"]
    assert abs(est - math.log(mb / ma)) < 1e-5
    # Fisher SE: var = 1/(n_a w_a) + 1/(n_b w_b), w_g = mu_g/(1+phi mu_g)
    wa, wb = ma / (1 + phi * ma), mb / (1 + phi * mb)
    se_expected = math.sqrt(1 / (5 * wa) + 1 / (5 * wb))
    assert abs(out["grp=b"]["se"] - se_expected) < 1e-4
    # LR from hand-computed deviances (reduced model MLE = overall mean)
    def dev(ys, mu):
        r = 1.0 / phi
        return 2 * sum(y * math.log(y / mu) - (y + r) * math.log((y + r) / (mu + r))
                       for y in ys)
    m_all = np.mean(ya + yb)
    lr = (dev(ya, m_all) + dev(yb, m_all)) - (dev(ya, ma) + dev(yb, mb))
    assert abs(out["grp=b"]["lr"] - lr) < 1e-3
    # edgeR z convention: -sign(logFC)*sqrt(LR); positive logFC → negative z
    assert abs(out["grp=b"]["z_lrt"] + math.sqrt(lr)) < 1e-3
    assert out["grp=b"]["pvalue"] < 1e-6


def test_nb_dispersion_widens_se(spark):
    from omics_data_integration_utilities_spark.analytics.kernels import (
        count_glm_offset,
    )

    rows = [("blk", "a", 100.0, 1.0), ("blk", "a", 120.0, 1.0),
            ("blk", "b", 300.0, 1.0), ("blk", "b", 330.0, 1.0)]
    df = spark.createDataFrame(rows, "block string, grp string, n double, exposure double")
    se0 = {r["coef"]: r["se"] for r in
           count_glm_offset(df, "block", "n", "grp", "exposure", dispersion=0.0).collect()}
    se5 = {r["coef"]: r["se"] for r in
           count_glm_offset(df, "block", "n", "grp", "exposure", dispersion=0.05).collect()}
    assert se5["grp=b"] > 2 * se0["grp=b"]  # phi*mu >> 1 here


def test_roc_auc_matches_pair_counting(spark):
    """Trapezoidal AUC over the distinct-score ROC equals the
    probability a random positive outranks a random negative (ties 0.5)."""
    from omics_data_integration_utilities_spark.analytics.kernels import (
        roc_auc,
        roc_curve,
    )

    rng = np.random.RandomState(21)
    pos = rng.normal(1.0, 1.0, 80).round(1)
    neg = rng.normal(0.0, 1.0, 120).round(1)
    rows = [(float(s), 1) for s in pos] + [(float(s), 0) for s in neg]
    df = spark.createDataFrame(rows, "score double, label int")
    auc_row = roc_auc(df, "score", "label").collect()[0]
    expected = sum((p > n) + 0.5 * (p == n) for p in pos for n in neg) / (len(pos) * len(neg))
    assert abs(auc_row["auc"] - expected) < 1e-6
    assert auc_row["n_pos"] == 80 and auc_row["n_neg"] == 120
    # curve endpoints: last (lowest-score) point is (1, 1)
    pts = roc_curve(df, "score", "label").orderBy("score").collect()
    assert pts[0]["tpr"] == 1.0 and pts[0]["fpr"] == 1.0


# --------------------------------------------------------------------------
# K12 permutation null + BH-FDR (Gohs method R:109-161)
# --------------------------------------------------------------------------

def test_bh_adjust_matches_r_p_adjust(spark):
    """R: p.adjust(c(.01,.02,.02,.04,.2), method='fdr') — sorted desc the
    raw n/i*p terms are (.2,.05,.03333,.05,.05); cummin → the first three
    ascending p's all land on .033333, then .05, .2."""
    from omics_data_integration_utilities_spark.analytics.permutation import bh_adjust

    pvs = [0.01, 0.02, 0.02, 0.04, 0.2]
    df = spark.createDataFrame(
        [("b", f"v{i}", p) for i, p in enumerate(pvs)], "blk string, var string, pv double"
    )
    out = {r["var"]: r["pv_adj"] for r in bh_adjust(df, "pv", ["blk"], ["var"]).collect()}
    expected = {"v0": 0.033333, "v1": 0.033333, "v2": 0.033333, "v3": 0.05, "v4": 0.2}
    for k, v in expected.items():
        assert abs(out[k] - v) < 1e-6, (k, out[k], v)


def _md5_order(names):
    import hashlib

    return sorted(names, key=lambda v: (hashlib.md5(v.encode()).hexdigest(), v))


def _rotation_series(spark, obs, nulls):
    """A K12 ``series`` (blk, var, s, va, vb) over 8 samples whose
    correlations are set by angle: every series is cos(t)·e1 + sin(t)·e2
    for orthonormal zero-mean e1, e2, so corr = cos(Δt).  The k variables
    in md5 order get observed r ``obs`` (the last one's follows from
    closing the cycle) and null r ``nulls[i]`` against their successor."""
    import math

    names = _md5_order([f"v{i}" for i in range(len(nulls))])
    beta, rows = 0.0, []
    for i, v in enumerate(names):
        alpha = beta + math.acos(obs[i]) if i < len(obs) else math.acos(nulls[-1])
        for s in range(8):
            e1, e2 = math.cos(2 * math.pi * s / 8), math.sin(2 * math.pi * s / 8)
            rows.append(("b", v, s, math.cos(alpha) * e1 + math.sin(alpha) * e2,
                         math.cos(beta) * e1 + math.sin(beta) * e2))
        beta = alpha - math.acos(nulls[i])
    df = spark.createDataFrame(rows, "blk string, var string, s long, va double, vb double")
    return df, names


def test_permutation_fdr_counts_null_at_least_as_extreme(spark):
    from omics_data_integration_utilities_spark.analytics.permutation import permutation_fdr

    series, (x, y, z, w) = _rotation_series(spark, [0.9, 0.5, 0.1], [0.8, 0.5, 0.2, 0.0])
    out = {r["var"]: r["perm_pv"] for r in permutation_fdr(series).collect()}
    # x: 0 null >= 0.9 → (0+1)/5; y: 2 null >= 0.5 (tie counts) → 3/5;
    # z: 3 → 4/5; w closes the cycle at r ≈ -0.09, below every null → 5/5
    assert abs(out[x] - 0.2) < 1e-9
    assert abs(out[y] - 0.6) < 1e-9
    assert abs(out[z] - 0.8) < 1e-9
    assert abs(out[w] - 1.0) < 1e-9


def test_cyclic_pair_null_is_derangement(spark):
    from omics_data_integration_utilities_spark.analytics.permutation import cyclic_pair_stats

    nulls = [0.7, -0.3, 0.1]
    series, names = _rotation_series(spark, [0.95, 0.4], nulls)
    out = cyclic_pair_stats(series).collect()
    null = {r["var"]: r for r in out if r["is_obs"] == 0}
    obs = {r["var"]: r["r"] for r in out if r["is_obs"] == 1}
    assert len(null) == 3  # cyclic shift over 3 vars
    for v, want in zip(names, nulls):
        # the md5-order successor's vb, never the variable's own
        assert abs(null[v]["r"] - want) < 1e-6, (v, null[v]["r"], want)
        assert abs(null[v]["r"] - obs[v]) > 1e-3
        assert null[v]["n"] == 8


def _k12_vs_oracle(spark, tmp_path, name, rows):
    """Write ``rows`` (user_id, event_type, value) as an ``events`` table,
    run ``q_k12_perm_fdr`` on it and assert it equals ``SQL_K12_PERM_FDR``
    in DuckDB.  Returns the Spark rows by variable and the number of
    observed r tied with a null r (through the oracle's own CTEs)."""
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from omics_data_integration_utilities_spark.plans.registry_kernels import (
        SQL_K12_PERM_FDR,
        q_k12_perm_fdr,
    )

    from .conftest import normalize_rows

    d = tmp_path / name
    d.mkdir()
    path = str(d / "events.parquet")
    cols = list(zip(*rows))
    pq.write_table(pa.table({
        "user_id": pa.array(cols[0], pa.int64()),
        "event_type": pa.array(cols[1], pa.string()),
        "value": pa.array(cols[2], pa.float64()),
    }), path)
    df = q_k12_perm_fdr(spark, str(d))
    got = [r.asDict() for r in df.collect()]
    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM '{path}'")
    res = con.execute(SQL_K12_PERM_FDR)
    want = normalize_rows([c[0] for c in res.description], res.fetchall())
    tail = SQL_K12_PERM_FDR.rindex("SELECT blk, var, r, n, perm_pv,")
    ties = con.execute(
        SQL_K12_PERM_FDR[:tail] + "SELECT count(*) FROM obs JOIN nullr USING (blk, r)"
    ).fetchone()[0]
    con.close()
    assert normalize_rows(df.columns, [tuple(r.values()) for r in got]) == want, name
    return {r["var"]: r for r in got}, ties


def test_k12_perm_fdr_edge_cases_match_oracle(spark, tmp_path):
    """One-variable block, a sample missing a variable, NULL values and an
    observed r tied with a null r: Spark equals the DuckDB oracle.  A NULL
    ``event_type`` raises nothing and leaves the other variables' r and n
    as they are."""
    rng = np.random.default_rng(7)
    w, y, v2, v3 = _md5_order(["a", "b", "c", "d"])
    rows = []  # (user_id, event_type, value); block "0" = even users
    for u in range(0, 16, 2):
        ys = rng.normal(size=int(rng.integers(1, 4))).round(3).tolist()
        rows += [(u, y, x) for x in ys]
        # w's values average to y's, so w's null (w.va vs y.vb) ties y's r
        rows += [(u, w, float(np.mean(ys)))] * int(rng.integers(1, 4))
        if u != 14:  # sample 14 lacks v2, so y's null pair (y → v2) skips it
            rows += [(u, v2, float(x)) for x in rng.normal(size=int(rng.integers(1, 4)))]
        # NULL values: sample 4's v3 has only NULLs (va NULL), sample 2's some
        vals = {4: [None], 2: [float(rng.normal()), None]}.get(u, [float(rng.normal())])
        rows += [(u, v3, x) for x in vals * int(rng.integers(1, 3))]
    for u in range(1, 12, 2):  # block "1": one variable, no null pair
        rows += [(u, "solo", float(x)) for x in rng.normal(size=int(rng.integers(1, 4)))]

    base, ties = _k12_vs_oracle(spark, tmp_path, "base", rows)
    assert ties >= 1
    assert base["solo"]["blk"] == "1" and base["solo"]["perm_pv"] == 1.0
    assert {v for v, r in base.items() if r["blk"] == "0"} == {w, y, v2, v3}

    nulled, _ = _k12_vs_oracle(
        spark, tmp_path, "null_var", rows + [(0, None, 1.0), (0, None, 3.0), (2, None, -2.0)]
    )
    for v, r in base.items():
        assert (nulled[v]["r"], nulled[v]["n"]) == (r["r"], r["n"]), v


def test_k12_perm_fdr_constant_series_match_oracle(spark, tmp_path):
    """A variable with exactly one event per sample (constant ``vb``) and
    one with a constant value (constant ``va``) have zero variance: their
    r is NULL as in DuckDB, so they drop out instead of raising
    ``[DIVIDE_BY_ZERO]``, and the rest still equals the oracle."""
    rng = np.random.default_rng(11)
    rows = []
    for u in range(0, 16, 2):
        rows += [(u, "once", float(rng.normal()))]
        rows += [(u, "flat", 2.5)] * int(rng.integers(1, 4))
        for v in ("p", "q"):
            rows += [(u, v, float(x)) for x in rng.normal(size=int(rng.integers(1, 4)))]
    got, _ = _k12_vs_oracle(spark, tmp_path, "constant", rows)
    assert set(got) == {"p", "q"}


# --------------------------------------------------------------------------
# K10: PCA batch check (Download_Preprocess.R:828-848)
# --------------------------------------------------------------------------

def test_pca_batch_check_matches_prcomp_replica(spark):
    """Gram-matrix PC1 == prcomp-style numpy PCA on the same matrix, and
    a planted batch shift on PC1 yields a tiny ANOVA p-value."""
    from omics_data_integration_utilities_spark.analytics.kernels import (
        pca_batch_check,
    )

    rng = np.random.RandomState(17)
    n_s, n_g = 24, 12
    base = rng.normal(0, 1, (n_s, n_g))
    batch = np.array([i % 2 for i in range(n_s)])
    x = base + batch[:, None] * 4.0  # strong batch effect along all genes
    rows = [
        (f"g{g}", f"s{s:02d}", float(x[s, g])) for s in range(n_s) for g in range(n_g)
    ]
    df = spark.createDataFrame(rows, "gene string, sample string, v double")
    bdf = spark.createDataFrame(
        [(f"s{s:02d}", str(batch[s])) for s in range(n_s)], "sample string, batch string"
    )
    out = pca_batch_check(df, "gene", "sample", "v", bdf).collect()
    assert len(out) == n_s
    p = out[0]["p_value"]
    assert p is not None and p < 1e-6
    # replica: prcomp(t(GEN)) scores, column 1
    xc = x - x.mean(axis=0, keepdims=True)
    u, s_, vt = np.linalg.svd(xc, full_matrices=False)
    pc1_ref = u[:, 0] * s_[0]
    if pc1_ref[int(np.argmax(np.abs(pc1_ref)))] < 0:
        pc1_ref = -pc1_ref
    got = {r["sample"]: r["pc1"] for r in out}
    for s in range(n_s):
        assert abs(got[f"s{s:02d}"] - pc1_ref[s]) < 1e-4


def test_pca_batch_check_single_batch_null_pvalue(spark):
    from omics_data_integration_utilities_spark.analytics.kernels import (
        pca_batch_check,
    )

    rows = [(f"g{g}", f"s{s}", float(s + g)) for s in range(6) for g in range(4)]
    df = spark.createDataFrame(rows, "gene string, sample string, v double")
    bdf = spark.createDataFrame([(f"s{s}", "b0") for s in range(6)], "sample string, batch string")
    out = pca_batch_check(df, "gene", "sample", "v", bdf).collect()
    assert len(out) == 6
    assert all(r["p_value"] is None for r in out)  # reference's return(-1) branch


# --------------------------------------------------------------------------
# K8 sample-level golden parity: methylmix_states through Spark must equal
# the numpy replica (model_single_gene) row-for-row on fixed fixtures that
# exercise the 1-, 2- (with flip-over) and 3-component paths
# --------------------------------------------------------------------------

def _methylmix_golden_fixtures():
    """Deterministic beta-mixture fixtures: (gene, x, xn) with known
    selected component counts (seeds probed once, pinned here)."""
    rng1 = np.random.RandomState(9)
    one_x = np.sort(rng1.beta(5, 5, 120))
    one_n = np.sort(rng1.beta(5, 5, 80))
    rng2 = np.random.RandomState(2)
    # skewed bathtub + mid hump: the posterior argmax goes A|B|A along
    # sorted x, driving the _remove_flipover branch (flipover_state == 1)
    two_x = np.sort(np.concatenate([rng2.beta(0.4, 1.2, 80), rng2.beta(8, 4, 80)]))
    two_n = np.sort(rng2.beta(0.4, 1.2, 60))
    rng3 = np.random.RandomState(21)
    three_x = np.sort(
        np.concatenate([rng3.beta(2, 40, 70), rng3.beta(12, 12, 70), rng3.beta(40, 2, 70)])
    )
    three_n = np.sort(rng3.beta(2, 40, 60))
    return [("g1", one_x, one_n), ("g2", two_x, two_n), ("g3", three_x, three_n)]


def test_methylmix_states_golden_parity_end_to_end(spark):
    """Spark methylmix_states (cogrouped applyInPandas) must reproduce the
    numpy replica exactly — values, classifications and methylation
    states — across the 1-component (not significant), 2-component with
    flip-over, and 3-component fixtures."""
    from omics_data_integration_utilities_spark.analytics.methylmix import (
        methylmix_states,
        model_single_gene,
    )

    fixtures = _methylmix_golden_fixtures()
    # sanity-pin the component structure the fixtures were chosen for
    pinned = {}
    for gene, x, xn in fixtures:
        res = model_single_gene(x, xn)
        pinned[gene] = res
    assert pinned["g1"]["nr_components"] == 1
    assert pinned["g2"]["nr_components"] == 2 and pinned["g2"]["flipover_state"] == 1
    assert pinned["g3"]["nr_components"] == 3 and pinned["g3"]["flipover_state"] == 0

    tumor_rows = [
        (gene, int(i), float(v))
        for gene, x, _ in fixtures
        for i, v in enumerate(x)
    ]
    normal_rows = [
        (gene, int(i), float(v))
        for gene, _, xn in fixtures
        for i, v in enumerate(xn)
    ]
    df = spark.createDataFrame(tumor_rows, "gene string, sample_id long, beta double")
    ndf = spark.createDataFrame(normal_rows, "gene string, sample_id long, beta double")
    out = methylmix_states(df, "gene", "sample_id", "beta", normal_df=ndf)
    got = {
        (r["gene"], r["sample_id"]): (r["value"], r["classification"], r["methylation_state"])
    for r in out.collect()}

    n_expected = 0
    for gene, x, xn in fixtures:
        res = pinned[gene]
        # replica of the kernel's canonical (value, id) ordering: x is
        # already sorted and ids are positional, so row i maps to id i
        for i in range(len(x)):
            exp = (
                round(float(x[i]), 6),
                int(res["classification"][i]),
                round(float(res["methylation_states"][i]), 6),
            )
            assert got[(gene, i)] == exp, (gene, i, got[(gene, i)], exp)
            n_expected += 1
    assert len(got) == n_expected


def test_smarts_mass_matches_python_reference_on_fuzzed_strings(spark):
    """K2 differential: the JVM regexp/translate expression chain must
    agree exactly with a plain-Python reimplementation of the same spec
    (valence-strip, atom maps, #n symbols, H-specs, two-letter-first
    counting) over 500 seeded random SMARTS-subset strings — one Spark
    job for the whole batch."""
    import random
    import re

    from omics_data_integration_utilities_spark.functions.chem import (
        ATOMIC_MASS,
        _ATOMIC_NUMBER,
        smarts_mass,
    )

    def py_mass(s: str) -> float:
        s = re.sub(r"&[^:\]]*", "", s)
        s = re.sub(r":[0-9]+", "", s)
        for num in sorted(_ATOMIC_NUMBER, key=len, reverse=True):
            s = s.replace("#" + num, _ATOMIC_NUMBER[num])
        s = re.sub(r"(?<=[A-Za-z\*\)])H[0-9]*", "", s)
        s = s.replace("Cl", "\x01").replace("Br", "\x02")
        mass = 0.0
        counts = [("Cl", "\x01"), ("Br", "\x02")] + [
            (sym, sym + (sym.lower() if sym in "BCNOPS" else ""))
            for sym in ("H", "B", "C", "N", "O", "P", "S", "F", "I")
        ]
        for sym, chars in counts:
            mass += sum(s.count(c) for c in chars) * ATOMIC_MASS[sym]
        return mass

    rng = random.Random(20260814)
    frags = [
        "C", "c", "N", "n", "O", "S", "P", "Cl", "Br", "I", "F", "B",
        "(", ")", "=", "#", "1", "[CH3]", "[NH2]", "[C&X4:3]", "[#6:1]",
        "[O-]", "[N+]", "[H]", "[nH]", "*", "[13C]", "[#17]",
    ]
    rows = []
    for i in range(500):
        s = "C" + "".join(rng.choice(frags) for _ in range(rng.randint(1, 12)))
        if s.count("(") != s.count(")"):
            s = s.replace("(", "").replace(")", "")
        rows.append((i, s))
    df = spark.createDataFrame(rows, "i long, s string").select(
        "i", smarts_mass("s").alias("m")
    )
    got = {r["i"]: r["m"] for r in df.collect()}
    for i, s in rows:
        assert abs(got[i] - py_mass(s)) <= 1e-9, s
