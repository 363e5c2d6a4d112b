"""MethylMix-style per-group beta-mixture modelling (SURVEY §2 K8/K9).

Reference semantics, re-expressed Spark-first:

* ``blc_2`` / ``betaEst_2`` beta-density EM —
  ``MethylMix/MethylMix.R:572-622`` (blc_2) and ``:633-653`` (betaEst_2).
* per-gene model selection (BIC + mean-difference + min-group gates) —
  ``MethylMix/MethylMix.R:313-419`` (MethylMix_ModelSingleGene).
* flip-over correction for 2- and 3-component models —
  ``MethylMix/MethylMix.R:458-558`` (MethylMix_RemoveFlipOver).
* Wilcoxon rank-sum DM test vs the normal cohort —
  ``MethylMix/MethylMix.R:377-392`` (wilcox.test calls).

The reference fans genes out over a ``foreach %dopar%`` R worker pool;
the Spark restatement is ``groupBy(gene).cogroup(normal).applyInPandas``
— each group is small (samples of one gene), the fan-out is the cluster.
All kernels are pure numpy (no scipy in the image): the beta MLE inside
the EM is a damped 2-D Newton solve on sufficient statistics
(S1=Σw·ln y, S2=Σw·ln(1-y), N=Σw — O(1) per Newton step after one O(n)
pass), digamma/trigamma via the standard recurrence + asymptotic series,
and the Wilcoxon p-value matching R's ``wilcox.test`` branch structure:
the exact Mann-Whitney distribution (count-DP) when both groups have
n, m < 50 and no ties, else the normal approximation with tie and
continuity correction.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame


# --------------------------------------------------------------------------
# special functions (numpy/math only; standard recurrence + asymptotics)
# --------------------------------------------------------------------------

def _digamma(x: float) -> float:
    r = 0.0
    while x < 6.0:
        r -= 1.0 / x
        x += 1.0
    inv = 1.0 / x
    inv2 = inv * inv
    return r + math.log(x) - 0.5 * inv - inv2 * (
        1.0 / 12 - inv2 * (1.0 / 120 - inv2 * (1.0 / 252 - inv2 / 240))
    )


def _trigamma(x: float) -> float:
    r = 0.0
    while x < 6.0:
        r += 1.0 / (x * x)
        x += 1.0
    inv = 1.0 / x
    inv2 = inv * inv
    return r + inv * (
        0.5 * inv
        + 1.0
        + inv2 * (1.0 / 6 - inv2 * (1.0 / 30 - inv2 * (1.0 / 42 - inv2 / 30)))
    )


def _norm_sf(z: float) -> float:
    """P(Z > z) for standard normal."""
    return 0.5 * math.erfc(z / math.sqrt(2.0))


def _wilcox_exact_p(u: float, n: int, m: int) -> float:
    """Exact two-sided Mann-Whitney p-value (R's pwilcox branch).

    Null counts of the U statistic are the Gaussian-binomial coefficients:
    N(u; i, j) = N(u−j; i−1, j) + N(u; i, j−1) (largest combined element
    is an x contributing j pairs, or a y contributing none — the same
    recurrence as R's cwilcox).  O(n·m) vector ops of length n·m.
    R: p = 2·P(W ≤ U) if U ≤ nm/2 else 2·P(W ≥ U), capped at 1
    (stats/R/wilcox.test.R two.sided exact branch).
    """
    nm = n * m
    e0 = np.zeros(nm + 1)
    e0[0] = 1.0
    # prev[i] = counts for y-sample size j-1; start at j=0 where any u>0
    # is impossible
    prev = [e0.copy() for _ in range(n + 1)]
    for j in range(1, m + 1):
        cur = [e0.copy()]
        for i in range(1, n + 1):
            shifted = np.zeros(nm + 1)
            if j <= nm:
                shifted[j:] = cur[i - 1][: nm + 1 - j]
            cur.append(prev[i] + shifted)
        prev = cur
    dp = prev[n]
    total = dp.sum()
    u_int = int(round(u))
    if u_int > nm / 2.0:
        p = dp[u_int:].sum() / total
    else:
        p = dp[: u_int + 1].sum() / total
    return min(1.0, 2.0 * p)


def _wilcox_p(x: np.ndarray, y: np.ndarray) -> float:
    """Two-sided Mann-Whitney / Wilcoxon rank-sum p-value.

    Matches R's ``wilcox.test`` branch selection (MethylMix.R:377-392
    calls it): EXACT distribution when n,m < 50 and the combined data has
    no ties; otherwise the normal approximation with tie correction and
    continuity correction (``correct=TRUE``).
    """
    n, m = len(x), len(y)
    if n == 0 or m == 0:
        return 1.0
    if n < 50 and m < 50:
        combined_all = np.concatenate([x, y])
        if len(np.unique(combined_all)) == n + m:  # no ties → exact branch
            u_exact = float((x[:, None] > y[None, :]).sum())
            return _wilcox_exact_p(u_exact, n, m)
    combined = np.concatenate([x, y])
    order = np.argsort(combined, kind="mergesort")
    ranks = np.empty(n + m, dtype=float)
    sorted_v = combined[order]
    # average ranks for ties
    i = 0
    while i < n + m:
        j = i
        while j + 1 < n + m and sorted_v[j + 1] == sorted_v[i]:
            j += 1
        ranks[order[i : j + 1]] = 0.5 * (i + j) + 1.0
        i = j + 1
    r1 = ranks[:n].sum()
    u = r1 - n * (n + 1) / 2.0
    mu = n * m / 2.0
    # tie correction: sum over tie groups of (t^3 - t)
    _, counts = np.unique(sorted_v, return_counts=True)
    tie_term = float(((counts.astype(float) ** 3) - counts).sum())
    nm = n + m
    var = (n * m / 12.0) * ((nm + 1.0) - tie_term / (nm * (nm - 1.0)))
    if var <= 0:
        return 1.0
    diff = u - mu
    # continuity correction toward the mean (R wilcox.test correct=TRUE)
    cc = 0.5 if diff != 0 else 0.0
    z = (diff - math.copysign(cc, diff)) / math.sqrt(var)
    return min(1.0, 2.0 * _norm_sf(abs(z)))


# --------------------------------------------------------------------------
# betaEst_2: weighted beta MLE (MethylMix.R:633-653)
# --------------------------------------------------------------------------

def _beta_est(y: np.ndarray, w: np.ndarray, weights: np.ndarray) -> tuple[float, float]:
    """Weighted ML fit of a beta(a,b) density.

    Mirrors ``betaEst_2``: moment init in log space, then optimize the
    weighted log-likelihood.  The reference uses BFGS on RPMM::betaObjf;
    we solve the same MLE with a damped Newton on sufficient statistics
    (identical optimum).  Failure → (1, 1), as the reference's
    try-error branch.
    """
    obs = np.isfinite(y)
    if obs.sum() <= 1:
        return 1.0, 1.0
    # guard the open-support boundary for standalone calls (blc_2 clamps
    # upstream, MethylMix.R:573-576; exact 0/1 would -inf the log terms)
    y = np.clip(y[obs], 1e-12, 1.0 - 1e-12)
    w = w[obs]
    weights = weights[obs]
    cw = weights * w
    n_eff = float(cw.sum())
    if n_eff <= 0:
        return 1.0, 1.0
    p = float((cw * y).sum()) / n_eff
    v = float((cw * y * y).sum()) / n_eff - p * p
    if not (0.0 < p < 1.0) or not np.isfinite(v):
        return 1.0, 1.0
    scale = max(1e-6, p * (1.0 - p) / max(v, 1e-300) - 1.0)
    a = p * scale
    b = (1.0 - p) * scale
    if obs.sum() == 2:  # reference returns the moment estimate directly
        return float(a), float(b)
    s1 = float((cw * np.log(y)).sum())
    s2 = float((cw * np.log1p(-y)).sum())
    a = min(max(a, 1e-6), 1e6)
    b = min(max(b, 1e-6), 1e6)
    for _ in range(100):
        dga, dgb, dgab = _digamma(a), _digamma(b), _digamma(a + b)
        ga = s1 - n_eff * (dga - dgab)
        gb = s2 - n_eff * (dgb - dgab)
        tga, tgb, tgab = _trigamma(a), _trigamma(b), _trigamma(a + b)
        haa = -n_eff * (tga - tgab)
        hbb = -n_eff * (tgb - tgab)
        hab = n_eff * tgab
        det = haa * hbb - hab * hab
        if not np.isfinite(det) or det == 0.0:
            break
        da = -(hbb * ga - hab * gb) / det
        db = -(haa * gb - hab * ga) / det
        step = 1.0
        while (a + step * da <= 0 or b + step * db <= 0) and step > 1e-8:
            step *= 0.5
        a += step * da
        b += step * db
        if not (np.isfinite(a) and np.isfinite(b)):
            return 1.0, 1.0
        if max(abs(ga), abs(gb)) < 1e-8 * n_eff or max(abs(da), abs(db)) * step < 1e-10:
            break
    if not (np.isfinite(a) and np.isfinite(b)) or a <= 0 or b <= 0:
        return 1.0, 1.0
    return float(a), float(b)


# --------------------------------------------------------------------------
# blc_2: beta-mixture EM (MethylMix.R:572-622)
# --------------------------------------------------------------------------

def _blc_2(
    y: np.ndarray,
    w0: np.ndarray,
    maxiter: int = 100,
    tol: float = 1e-6,
    weights: np.ndarray | None = None,
) -> dict:
    """Beta latent-class EM on a 1-column data vector.

    Faithful port of ``blc_2``: boundary clamp to (Ymn/2, 1-(1-Ymx)/2),
    eta update from posterior weights, per-component betaEst, log-density
    E-step with row-max rescaling, convergence on max |mu - mu0|.
    """
    y = y.astype(float).copy()
    pos = y[y > 0]
    lt1 = y[y < 1]
    ymn = pos.min() if len(pos) else 0.5
    ymx = lt1.max() if len(lt1) else 0.5
    y = np.clip(y, ymn / 2.0, 1.0 - (1.0 - ymx) / 2.0)
    n, k = w0.shape
    if weights is None:
        weights = np.ones(n)
    w = w0.astype(float).copy()
    a = np.full(k, np.inf)
    b = np.full(k, np.inf)
    mu = np.full(k, np.inf)
    eta = np.full(k, 1.0 / k)
    llike = 0.0
    logy = None
    for _ in range(maxiter):
        eta = (weights[:, None] * w).sum(axis=0) / weights.sum()
        mu0 = mu.copy()
        for kk in range(k):
            ak, bk = _beta_est(y, w[:, kk], weights)
            a[kk], b[kk] = ak, bk
            mu[kk] = ak / (ak + bk)
        if logy is None:
            logy = np.log(y)
            log1my = np.log1p(-y)
        # E-step: log beta densities, n×k
        lbeta = np.array(
            [math.lgamma(a[kk]) + math.lgamma(b[kk]) - math.lgamma(a[kk] + b[kk]) for kk in range(k)]
        )
        ww = (a - 1.0)[None, :] * logy[:, None] + (b - 1.0)[None, :] * log1my[:, None] - lbeta[None, :]
        wmax = ww.max(axis=1)
        w = np.exp(ww - wmax[:, None]) * eta[None, :]
        like = w.sum(axis=1)
        if not np.all(like > 0) or not np.all(np.isfinite(like)):
            break
        w = w / like[:, None]
        llike = float((weights * (np.log(like) + wmax)).sum())
        crit = float(np.max(np.abs(mu - mu0)))
        if math.isnan(crit) or crit < tol:
            break
    return {"a": a, "b": b, "eta": eta, "mu": mu, "w": w, "llike": llike}


# --------------------------------------------------------------------------
# flip-over correction (MethylMix.R:458-558)
# --------------------------------------------------------------------------

def _remove_flipover(
    order: np.ndarray,
    meth_state: np.ndarray,
    classification: np.ndarray,
    x: np.ndarray,
    k: int,
) -> tuple[np.ndarray, np.ndarray, int]:
    """Reassign samples whose mixture state is interleaved inside another
    state's run along the sorted methylation axis."""
    n = len(x)
    states_sorted = meth_state[order]
    diffs = np.diff(states_sorted)
    nz_idx = np.nonzero(diffs != 0)[0]
    nz = diffs[nz_idx]
    learned = 0
    if k == 2:
        if len(nz) == 2 and nz[0] == -nz[1]:
            pos1 = int(np.nonzero(diffs == nz[0])[0][0])  # 0-based
            pos2 = int(np.nonzero(diffs == nz[1])[0][0])
            size1 = pos1 + 1
            size2 = (n - 1) - (pos2 + 1)
            if size2 > size1:
                src = order[pos1 + 1]
                idx = order[: pos1 + 1]
                meth_state[idx] = meth_state[src]
                classification[idx] = classification[src]
                learned = 2
            elif size1 > size2:
                src = order[pos2]
                idx = order[pos2 + 1 :]
                meth_state[idx] = meth_state[src]
                classification[idx] = classification[src]
                learned = 1
    elif k == 3:
        if len(nz) > 2:
            # run boundaries: last index of each run (0-based), runs split at nz_idx
            pos_diff = nz_idx + 1  # 1-based boundary positions as in R
            seq_states = list(states_sorted[nz_idx]) + [float(states_sorted[-1])]
            cls_sorted = classification[order]
            seq_class = list(cls_sorted[nz_idx]) + [int(cls_sorted[-1])]
            bounds = np.concatenate([[0], pos_diff, [n]])
            sizes = np.diff(bounds)
            x_sorted = x[order]
            means = np.array(
                [x_sorted[int(bounds[g]) : int(bounds[g + 1])].mean() for g in range(len(sizes))]
            )
            vals, counts = np.unique(np.round(seq_states, 4), return_counts=True)
            if int((counts > 1).sum()) == 1:
                sep_state = float(vals[counts > 1][0])
                rounded = np.round(seq_states, 4)
                subgr = np.nonzero(rounded == sep_state)[0]
                subgr_ok = np.nonzero(rounded != sep_state)[0]
                if len(subgr_ok) > 0:
                    remains = subgr[int(np.argmax(sizes[subgr]))]
                    for gr in subgr:
                        if gr == remains:
                            continue
                        target = subgr_ok[int(np.argmin(np.abs(means[gr] - means[subgr_ok])))]
                        idx = order[int(bounds[gr]) : int(bounds[gr + 1])]
                        meth_state[idx] = seq_states[target]
                        classification[idx] = seq_class[target]
                    learned = 3
    return meth_state, classification, learned


# --------------------------------------------------------------------------
# MethylMix_ModelSingleGene (MethylMix.R:313-419)
# --------------------------------------------------------------------------

def model_single_gene(
    x: np.ndarray,
    x_normal: np.ndarray | None = None,
    no_normal_mode: bool = False,
    max_comp: int = 3,
    pvalue_threshold: float = 0.01,
    mean_difference_threshold: float = 0.10,
    min_samples_per_group: int = 1,
) -> dict:
    """Fit the per-gene beta mixture, select component count, emit
    methylation states.  Pure numpy — this exact function is also the
    pandas replica used by the Spark-parity tests.

    Returns dict with nr_components, model (a,b,eta,mu), mixture_states
    (per component DM value), methylation_states (per sample),
    classification (1-based per sample), flipover_state, dm_pvalues.
    """
    x = np.asarray(x, dtype=float)
    n = len(x)
    mods: list[dict] = [None] * (max_comp + 1)  # type: ignore[list-item]
    bic = np.zeros(max_comp + 1)
    mods[1] = _blc_2(x, np.ones((n, 1)), maxiter=100, tol=1e-6)
    bic[1] = -2.0 * mods[1]["llike"] + 2.0 * math.log(n)
    nr_components = 1
    for comp in range(2, max_comp + 1):
        probs = [i / comp for i in range(1, comp)]
        qs = np.quantile(x, probs)  # type 7, same as R default
        edges = np.concatenate([qs, [np.inf]])
        w0 = np.zeros((n, comp))
        w0[x < edges[0], 0] = 1.0
        for i in range(1, comp):
            w0[(x >= edges[i - 1]) & (x < edges[i]), i] = 1.0
        mods[comp] = _blc_2(x, w0, maxiter=100, tol=1e-6)
        if np.isnan(mods[comp]["mu"]).any():
            mods[comp]["llike"] = 0.0
        df = comp * 3 - 1
        bic[comp] = -2.0 * mods[comp]["llike"] + df * math.log(n)
        model_means = np.sort(mods[comp]["mu"])
        different_means = bool(np.all(np.abs(np.diff(model_means)) > mean_difference_threshold))
        mspg = min_samples_per_group
        if mspg < 0:
            mspg = max(5, 0.05 * n)
        cls = np.argmax(mods[comp]["w"], axis=1)
        group_sizes = np.bincount(cls, minlength=comp)
        min_ok = bool(group_sizes.min() >= mspg)
        if bic[comp] >= bic[comp - 1] or not different_means or not min_ok:
            nr_components = comp - 1
            break
        nr_components = comp
    model = mods[nr_components]
    meth_state = np.zeros(n)
    mixture_states = np.zeros(nr_components)
    dm_pvalues = np.ones(nr_components)
    classification = np.argmax(model["w"], axis=1) + 1  # 1-based as in R
    flipover = 0
    if nr_components == 1:
        if x_normal is not None:
            p = _wilcox_p(x, x_normal)
            difference = float(x.mean() - x_normal.mean())
        else:
            p = 1.0
            difference = float(x.mean())
        dm_pvalues[0] = p
        if (p < pvalue_threshold and abs(difference) > mean_difference_threshold) or no_normal_mode:
            meth_state[:] = difference
            mixture_states[0] = difference
    else:
        for comp in range(1, nr_components + 1):
            mask = classification == comp
            x_comp = x[mask]
            if x_normal is not None:
                p = _wilcox_p(x_comp, x_normal) if len(x_comp) > 0 else 1.0
                difference = float(
                    (x_comp.mean() if len(x_comp) else np.nan) - x_normal.mean()
                )
            else:
                p = 1.0
                difference = float(x_comp.mean()) if len(x_comp) else float("nan")
            dm_pvalues[comp - 1] = p
            if (
                p < pvalue_threshold and abs(difference) > mean_difference_threshold
            ) or no_normal_mode:
                meth_state[mask] = difference
                mixture_states[comp - 1] = difference
        order = np.argsort(x, kind="mergesort")
        meth_state, classification, flipover = _remove_flipover(
            order, meth_state, classification, x, nr_components
        )
    return {
        "nr_components": nr_components,
        "a": model["a"],
        "b": model["b"],
        "eta": model["eta"],
        "mu": model["mu"],
        "mixture_states": mixture_states,
        "methylation_states": meth_state,
        "classification": classification,
        "flipover_state": flipover,
        "dm_pvalues": dm_pvalues,
    }


# --------------------------------------------------------------------------
# Spark surface
# --------------------------------------------------------------------------

def _dedup_lineage(df: DataFrame) -> DataFrame:
    """Re-alias every column to force fresh attribute ids.

    When both cogroup sides derive from the SAME parent DataFrame they
    share Catalyst attribute exprIds; Spark's relation-dedup + column
    pruning then strips the right side's value columns down to the
    grouping key (observed on Spark 4.1: right pdf arrives with only the
    key column → KeyError in the UDF).  A select of ``col(c).alias(c)``
    mints new exprIds and restores correct pruning.
    """
    from pyspark.sql import functions as F

    return df.select([F.col(c).alias(c) for c in df.columns])


_MODEL_SCHEMA = (
    "{g} string, n long, nr_components long, comp long, eta double, a double, "
    "b double, mu double, mixture_state double, dm_pvalue double, flipover_state long"
)


def methylmix_model(
    df: DataFrame,
    group_col: str,
    value_col: str,
    normal_df: DataFrame | None = None,
    no_normal_mode: bool = False,
    max_comp: int = 3,
    min_n: int = 5,
) -> DataFrame:
    """K8: per-gene beta-mixture model — one row per selected component
    with (eta, a, b, mu, mixture_state=DM value, dm_pvalue, flipover).

    The gene fan-out is ``groupBy(gene).applyInPandas`` (cogrouped with
    the normal cohort when one is supplied) — the Spark analogue of the
    reference's %dopar% pool (MethylMix.R:256-262).  Values must lie in
    (0,1) (beta support); callers scale upstream.
    """
    schema = _MODEL_SCHEMA.format(g=group_col)

    def run(key_values: np.ndarray, normal_values: np.ndarray | None, key: str) -> pd.DataFrame:
        # canonical ascending order: makes the fp-summation chain (and so
        # the fitted params) invariant to Spark partitioning/shuffle order
        x = np.sort(key_values[np.isfinite(key_values)])
        if len(x) < min_n:
            return pd.DataFrame(
                columns=[
                    group_col, "n", "nr_components", "comp", "eta", "a", "b",
                    "mu", "mixture_state", "dm_pvalue", "flipover_state",
                ]
            )
        xn = None
        if normal_values is not None:
            xn = np.sort(normal_values[np.isfinite(normal_values)])
            if len(xn) == 0:
                xn = None
        res = model_single_gene(
            x, xn, no_normal_mode=no_normal_mode or xn is None, max_comp=max_comp
        )
        k = res["nr_components"]
        return pd.DataFrame(
            {
                group_col: key,
                "n": len(x),
                "nr_components": k,
                "comp": np.arange(1, k + 1),
                "eta": np.round(res["eta"][:k], 6),
                "a": np.round(res["a"][:k], 6),
                "b": np.round(res["b"][:k], 6),
                "mu": np.round(res["mu"][:k], 6),
                "mixture_state": np.round(res["mixture_states"], 6),
                "dm_pvalue": np.round(res["dm_pvalues"], 6),
                "flipover_state": res["flipover_state"],
            }
        )

    if normal_df is None:

        def fit(pdf: pd.DataFrame) -> pd.DataFrame:
            key = pdf[group_col].iloc[0]
            return run(pdf[value_col].to_numpy(dtype=float), None, key)

        return df.groupBy(group_col).applyInPandas(fit, schema=schema)

    def fit_cogrouped(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        if len(left) == 0:
            return run(np.array([]), None, "")
        key = left[group_col].iloc[0]
        nv = right[value_col].to_numpy(dtype=float) if len(right) else None
        return run(left[value_col].to_numpy(dtype=float), nv, key)

    return (
        df.groupBy(group_col)
        .cogroup(_dedup_lineage(normal_df).groupBy(group_col))
        .applyInPandas(lambda l, r: fit_cogrouped(l, r), schema=schema)
    )


def methylmix_states(
    df: DataFrame,
    group_col: str,
    id_col: str,
    value_col: str,
    normal_df: DataFrame | None = None,
    no_normal_mode: bool = False,
    max_comp: int = 3,
    min_n: int = 5,
) -> DataFrame:
    """K8 sample-level output: (group, id, value, classification,
    methylation_state) — the reference's MethylationStates matrix rows
    (MethylMix.R:405-419), one Spark row per (gene, sample)."""
    schema = (
        f"{group_col} string, {id_col} long, value double, "
        "classification long, methylation_state double"
    )

    def run(pdf: pd.DataFrame, xn: np.ndarray | None) -> pd.DataFrame:
        key = pdf[group_col].iloc[0]
        sub = pdf[np.isfinite(pdf[value_col].to_numpy(dtype=float))]
        # canonical (value, id) order for partitioning-invariant output
        sub = sub.sort_values([value_col, id_col], kind="mergesort")
        x = sub[value_col].to_numpy(dtype=float)
        if len(x) < min_n:
            return pd.DataFrame(
                columns=[group_col, id_col, "value", "classification", "methylation_state"]
            )
        res = model_single_gene(
            x, xn, no_normal_mode=no_normal_mode or xn is None, max_comp=max_comp
        )
        return pd.DataFrame(
            {
                group_col: key,
                id_col: sub[id_col].to_numpy(),
                "value": np.round(x, 6),
                "classification": res["classification"].astype(int),
                "methylation_state": np.round(res["methylation_states"], 6),
            }
        )

    if normal_df is None:
        return df.groupBy(group_col).applyInPandas(lambda p: run(p, None), schema=schema)

    def fit_cogrouped(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        if len(left) == 0:
            return pd.DataFrame(
                columns=[group_col, id_col, "value", "classification", "methylation_state"]
            )
        xn = right[value_col].to_numpy(dtype=float) if len(right) else None
        if xn is not None:
            xn = np.sort(xn[np.isfinite(xn)])
            if len(xn) == 0:
                xn = None
        return run(left, xn)

    return (
        df.groupBy(group_col)
        .cogroup(_dedup_lineage(normal_df).groupBy(group_col))
        .applyInPandas(fit_cogrouped, schema=schema)
    )


def linear_filter(
    df: DataFrame,
    group_col: str,
    x_col: str,
    y_col: str,
    min_n: int = 5,
    max_slope: float = 0.0,
    min_r2: float = 0.1,
) -> DataFrame:
    """K9: the reference's per-gene ``lm(GE ~ MET)`` screen
    (MethylMix.R:171-216) in closed-form SQL expressions — slope from
    covariance/variance, R² from corr² — no UDF, one shuffle."""
    from pyspark.sql import functions as F

    from ..functions.scalars import pearson_corr

    agg = df.groupBy(group_col).agg(
        F.count(F.lit(1)).alias("n"),
        F.covar_pop(x_col, y_col).alias("__cov"),
        F.var_pop(x_col).alias("__var"),
        pearson_corr(x_col, y_col).alias("__r"),
    )
    out = (
        agg.where((F.col("n") >= min_n) & (F.col("__var") > 0) & F.col("__r").isNotNull())
        .withColumn("slope", F.col("__cov") / F.col("__var"))
        .withColumn("r2", F.col("__r") * F.col("__r"))
        .where((F.col("slope") < max_slope) & (F.col("r2") > min_r2))
    )
    return out.select(
        group_col,
        "n",
        F.round("slope", 6).alias("slope"),
        F.round("r2", 6).alias("r2"),
    )
