"""Per-group statistical kernels (SURVEY §2 K10, K12, K13) as
``applyInPandas`` blocks — numpy only (the image has no scipy/statsmodels).

- K10 kNN impute            ← MethylMix/Download_Preprocess.R:791-819
- K12 partial-correlation   ← Gohs_method/integrated_aCGH_expression_relationships.R:51-90
- K13 count GLM (Poisson IRLS with offset; the reference's edgeR NB-GLM
  with CN offsets, Robinson_method/R/run_ABCD-DNA.R:10-84 — NB dispersion
  handled as a quasi-likelihood scale rather than edgeR's tagwise fit)
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame


def knn_impute(
    df: DataFrame,
    block_col: str,
    row_col: str,
    col_col: str,
    value_col: str,
    k: int = 3,
) -> DataFrame:
    """K10: impute missing (row, col) cells from the k nearest rows by
    euclidean distance over shared observed columns, per block.  Each block
    pivots to a small matrix inside its task — the fan-out is the cluster.
    Returns (block, row, col, value, imputed).

    Declared semantics (deterministic, pinned by the golden oracle and
    its no-Spark replica): cells impute in row-major pivot order and the
    updates are IN-PLACE, so an earlier-imputed cell is a live donor for
    later cells — donor distances, however, always use the ORIGINAL
    observed mask.  The reference's impute.knn draws donors from observed
    values only; the sequential form trades that for single-pass
    determinism and is what the regression lock freezes."""

    def impute(pdf: pd.DataFrame) -> pd.DataFrame:
        block = pdf[block_col].iloc[0]
        m = pdf.pivot_table(
            index=row_col, columns=col_col, values=value_col, aggfunc="first", dropna=False
        )
        a = m.to_numpy(dtype=float)
        observed = ~np.isnan(a)
        out_rows = []
        for i in range(a.shape[0]):
            for j in np.where(np.isnan(a[i]))[0]:
                # RMS distance to every donor row over mutually observed cols
                dists = []
                for other in range(a.shape[0]):
                    if other == i or np.isnan(a[other, j]):
                        continue
                    mask = observed[i] & observed[other]
                    if not mask.any():
                        continue
                    d = float(np.sqrt(np.mean((a[i, mask] - a[other, mask]) ** 2)))
                    dists.append((d, other))
                dists.sort()
                if dists:
                    a[i, j] = float(np.mean([a[o, j] for _, o in dists[:k]]))
        for i, row_key in enumerate(m.index):
            for j, col_key in enumerate(m.columns):
                if not np.isnan(a[i, j]):
                    out_rows.append(
                        (block, row_key, col_key, round(float(a[i, j]), 6), not observed[i, j])
                    )
        return pd.DataFrame(
            out_rows, columns=[block_col, row_col, col_col, value_col, "imputed"]
        )

    schema = f"{block_col} string, {row_col} string, {col_col} string, {value_col} double, imputed boolean"
    return df.groupBy(block_col).applyInPandas(impute, schema=schema)


def partial_correlations(
    df: DataFrame,
    block_col: str,
    var_col: str,
    sample_col: str,
    value_col: str,
    shrinkage: float = 0.1,
) -> DataFrame:
    """K12: partial correlations between variables given all others, from
    the inverse of the (shrunk) correlation matrix — GeneNet's
    ``ggm.estimate.pcor`` shape with a fixed shrinkage intensity for
    determinism.  Per block via applyInPandas.
    Returns (block, var_a, var_b, pcor)."""

    def pcor(pdf: pd.DataFrame) -> pd.DataFrame:
        block = pdf[block_col].iloc[0]
        m = pdf.pivot_table(
            index=sample_col, columns=var_col, values=value_col, aggfunc="first"
        ).dropna()
        names = list(m.columns)
        if len(names) < 3 or len(m) < 3:
            return pd.DataFrame(columns=[block_col, "var_a", "var_b", "pcor"])
        r = np.corrcoef(m.to_numpy(dtype=float), rowvar=False)
        r = (1 - shrinkage) * r + shrinkage * np.eye(len(names))
        prec = np.linalg.inv(r)
        d = np.sqrt(np.diag(prec))
        pc = -prec / np.outer(d, d)
        rows = [
            (block, names[i], names[j], round(float(pc[i, j]), 6))
            for i in range(len(names))
            for j in range(i + 1, len(names))
        ]
        return pd.DataFrame(rows, columns=[block_col, "var_a", "var_b", "pcor"])

    schema = f"{block_col} string, var_a string, var_b string, pcor double"
    return df.groupBy(block_col).applyInPandas(pcor, schema=schema)


def _nb_irls(
    y: np.ndarray, X: np.ndarray, off: np.ndarray, dispersion: float, max_iter: int
) -> np.ndarray | None:
    """IRLS for count ~ X with log link and offset.  dispersion=0 is
    Poisson (working weight W=mu); dispersion>0 is negative binomial with
    known phi (W = mu/(1+phi*mu)) — edgeR's glmFit fixed-dispersion
    semantics (Robinson_method/R/Figure_6_Feber_ROC.R:54 uses phi=0.05)."""
    # glm.fit-style start: eta0 = log(y + 0.5) so the first working
    # response is already near the solution (beta=0 diverges for counts
    # far from 1 because the first Newton step overshoots the log link)
    eta0 = np.log(np.maximum(y, 0.0) + 0.5) - off
    beta, *_ = np.linalg.lstsq(X, eta0, rcond=None)
    for _ in range(max_iter):
        eta = X @ beta + off
        mu = np.exp(np.clip(eta, -30, 30))
        w = mu / (1.0 + dispersion * mu)
        z = eta - off + (y - mu) / np.maximum(mu, 1e-12)
        xtw = X.T * w
        try:
            beta_new = np.linalg.solve(xtw @ X, xtw @ z)
        except np.linalg.LinAlgError:
            return None
        if not np.all(np.isfinite(beta_new)):
            return None
        if np.max(np.abs(beta_new - beta)) < 1e-10:
            return beta_new
        beta = beta_new
    return beta


def _nb_deviance(y: np.ndarray, mu: np.ndarray, dispersion: float) -> float:
    """NB unit deviance summed (known phi); phi→0 limit is the Poisson
    deviance.  y*log(y/mu) term is 0 at y=0."""
    mu = np.maximum(mu, 1e-12)
    with np.errstate(divide="ignore", invalid="ignore"):
        t1 = np.where(y > 0, y * np.log(np.maximum(y, 1e-300) / mu), 0.0)
    if dispersion <= 0:
        d = 2.0 * (t1 - (y - mu))
    else:
        r = 1.0 / dispersion
        d = 2.0 * (t1 - (y + r) * np.log((y + r) / (mu + r)))
    return float(d.sum())


def count_glm_offset(
    df: DataFrame,
    block_col: str,
    count_col: str,
    group_col: str,
    offset_col: str,
    dispersion: float = 0.0,
    max_iter: int = 25,
) -> DataFrame:
    """K13: count GLM with offset via IRLS, per block — count ~ group,
    offset log(exposure).  With ``dispersion>0`` this is the reference's
    edgeR NB fit with fixed dispersion (glmFit(..., dispersion=.05),
    Robinson_method/R/Figure_6_Feber_ROC.R:54-55); each non-intercept
    coefficient also gets a likelihood-ratio test against the model
    without it (glmLRT) and the edgeR-style signed z
    ``-sign(logFC)*|qnorm(p/2)|`` — for a chi²₁ LR statistic that
    identity collapses to ``-sign(logFC)*sqrt(LR)`` (Figure_6_Feber_ROC.R:56).
    Returns (block, coef, estimate, se, z, lr, pvalue, z_lrt); lr/pvalue/
    z_lrt are null for the intercept."""

    def fit(pdf: pd.DataFrame) -> pd.DataFrame:
        cols = [block_col, "coef", "estimate", "se", "z", "lr", "pvalue", "z_lrt"]
        block = pdf[block_col].iloc[0]
        # canonical order → partitioning-invariant fp summation
        pdf = pdf.sort_values([group_col, count_col, offset_col], kind="mergesort")
        levels = sorted(pdf[group_col].unique())
        if len(levels) < 2:
            return pd.DataFrame(columns=cols)
        y = pdf[count_col].to_numpy(dtype=float)
        off = np.log(np.maximum(pdf[offset_col].to_numpy(dtype=float), 1e-12))
        X = np.column_stack(
            [np.ones(len(y))]
            + [(pdf[group_col] == lv).to_numpy(dtype=float) for lv in levels[1:]]
        )
        beta = _nb_irls(y, X, off, dispersion, max_iter)
        if beta is None:
            return pd.DataFrame(columns=cols)
        eta = X @ beta + off
        mu = np.exp(np.clip(eta, -30, 30))
        w = mu / (1.0 + dispersion * mu)
        try:
            cov = np.linalg.inv((X.T * w) @ X)
        except np.linalg.LinAlgError:
            return pd.DataFrame(columns=cols)
        se = np.sqrt(np.maximum(np.diag(cov), 0.0))
        dev_full = _nb_deviance(y, mu, dispersion)
        names = ["intercept"] + [f"{group_col}={lv}" for lv in levels[1:]]
        lrs: list[float | None] = [None]
        pvals: list[float | None] = [None]
        zlrt: list[float | None] = [None]
        for j in range(1, X.shape[1]):
            Xr = np.delete(X, j, axis=1)
            beta_r = _nb_irls(y, Xr, off, dispersion, max_iter)
            if beta_r is None:
                lrs.append(None), pvals.append(None), zlrt.append(None)
                continue
            mu_r = np.exp(np.clip(Xr @ beta_r + off, -30, 30))
            lr = max(_nb_deviance(y, mu_r, dispersion) - dev_full, 0.0)
            # chi²₁ survival = erfc(sqrt(LR/2)); |qnorm(p/2)| = sqrt(LR)
            pvals.append(math.erfc(math.sqrt(lr / 2.0)))
            lrs.append(lr)
            zlrt.append(-math.copysign(math.sqrt(lr), beta[j]))
        return pd.DataFrame(
            {
                block_col: block,
                "coef": names,
                "estimate": np.round(beta, 6),
                "se": np.round(se, 6),
                "z": np.round(beta / np.maximum(se, 1e-12), 6),
                "lr": [None if v is None else round(v, 6) for v in lrs],
                "pvalue": [None if v is None else round(v, 6) for v in pvals],
                "z_lrt": [None if v is None else round(v, 6) for v in zlrt],
            }
        )

    schema = (
        f"{block_col} string, coef string, estimate double, se double, z double, "
        "lr double, pvalue double, z_lrt double"
    )
    return df.groupBy(block_col).applyInPandas(fit, schema=schema)


def roc_curve(
    df: DataFrame,
    score_col: str,
    label_col: str,
    group_cols: list[str] | None = None,
) -> DataFrame:
    """ROC curve points as pure window aggregation — the Spark restatement
    of the reference's ROCR prediction/performance sweep
    (Robinson_method/R/functions.R:23-111, makeROCCurve).  Scores are
    ranked descending; per distinct score one (fpr, tpr) point from
    cumulative positive/negative counts.  Fully declarative → whole-stage
    codegen, one shuffle on (group, score), and SQL-oracle-able."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    keys = group_cols or []
    agg = df.groupBy(*keys, score_col).agg(
        F.sum(F.when(F.col(label_col) == 1, 1).otherwise(0)).cast("double").alias("__pos"),
        F.sum(F.when(F.col(label_col) == 1, 0).otherwise(1)).cast("double").alias("__neg"),
    )
    w_cum = Window.partitionBy(*keys).orderBy(F.desc(score_col))
    w_all = Window.partitionBy(*keys)
    pts = agg.select(
        *keys,
        F.col(score_col),
        F.sum("__pos").over(w_cum).alias("__tp"),
        F.sum("__neg").over(w_cum).alias("__fp"),
        F.sum("__pos").over(w_all).alias("__p"),
        F.sum("__neg").over(w_all).alias("__n"),
    )
    return pts.select(
        *keys,
        F.col(score_col),
        F.round(F.col("__tp") / F.col("__p"), 6).alias("tpr"),
        F.round(F.col("__fp") / F.col("__n"), 6).alias("fpr"),
    )


def roc_auc(
    df: DataFrame,
    score_col: str,
    label_col: str,
    group_cols: list[str] | None = None,
) -> DataFrame:
    """Trapezoidal AUC over the :func:`roc_curve` points — the
    ``performance(pred, "auc")`` summary (functions.R:108).  One window
    pass (lag over score-descending points) + one aggregation; no UDF."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    keys = group_cols or []
    agg = df.groupBy(*keys, score_col).agg(
        F.sum(F.when(F.col(label_col) == 1, 1).otherwise(0)).cast("double").alias("__pos"),
        F.sum(F.when(F.col(label_col) == 1, 0).otherwise(1)).cast("double").alias("__neg"),
    )
    w_cum = Window.partitionBy(*keys).orderBy(F.desc(score_col))
    w_all = Window.partitionBy(*keys)
    pts = agg.select(
        *keys,
        F.col(score_col),
        (F.sum("__pos").over(w_cum) / F.sum("__pos").over(w_all)).alias("__tpr"),
        (F.sum("__neg").over(w_cum) / F.sum("__neg").over(w_all)).alias("__fpr"),
        F.sum("__pos").over(w_all).cast("long").alias("__p"),
        F.sum("__neg").over(w_all).cast("long").alias("__n"),
    )
    trap = pts.select(
        *keys,
        "__p",
        "__n",
        (
            (F.col("__fpr") - F.lag("__fpr", 1, 0.0).over(w_cum))
            * (F.col("__tpr") + F.lag("__tpr", 1, 0.0).over(w_cum))
            / 2.0
        ).alias("__area"),
    )
    return trap.groupBy(*keys).agg(
        F.round(F.sum("__area"), 6).alias("auc"),
        F.first("__p").alias("n_pos"),
        F.first("__n").alias("n_neg"),
    )


def pca_batch_check(
    df: DataFrame,
    gene_col: str,
    sample_col: str,
    value_col: str,
    batch_df: DataFrame,
    batch_col: str = "batch",
) -> DataFrame:
    """K10 family: the MethylMix batch-effect check
    (``TCGA_GENERIC_CheckBatchEffect``, Download_Preprocess.R:828-848):
    PCA over samples (prcomp of the sample × gene matrix, per-gene
    centering), then one-way ANOVA of PC1 against the batch factor.

    Scale shape: the gene dimension can be huge, the sample dimension is
    bounded — so the distributed work is ONE shuffle-on-gene pass in which
    each task accumulates its partial sample × sample Gram as a dense
    S × S outer-product sum (BLAS ``MᵀM`` over gene-chunks), emitting S
    rows of S doubles per partition; the driver sums P·S bounded rows and
    eigendecomposes (X = UΣVᵀ → G = XXᵀ = UΣ²Uᵀ, PC1 scores = u₁·σ₁).
    No gene-key self-join, no |genes|·S² intermediate, no S²-row collect.
    The F-test p-value comes from the regularized incomplete beta already
    in functions/stats.py.

    Returns one row per sample: (sample, batch, pc1, f_stat, p_value);
    f_stat/p_value are constant columns (null when <2 batches, the
    reference's ``return(-1)`` branch).
    """
    import math

    from pyspark.sql import functions as F

    from ..functions.stats import betainc

    spark = df.sparkSession
    samples = sorted(r[0] for r in df.select(sample_col).distinct().collect())
    idx = {s: i for i, s in enumerate(samples)}
    n = len(samples)
    if n < 2:
        return spark.createDataFrame(
            [], f"{sample_col} string, {batch_col} string, pc1 double, f_stat double, p_value double"
        )
    means = df.groupBy(gene_col).agg(F.avg(value_col).alias("__mu"))
    centered = (
        df.join(means, gene_col)
        .select(
            F.col(gene_col).alias("__g"),
            F.col(sample_col).alias("__s"),
            (F.col(value_col) - F.col("__mu")).alias("__v"),
        )
    )

    # Partial-Gram accumulation: G = XᵀX = Σ_p X_pᵀX_p holds only when the
    # row blocks X_p partition whole genes, so shuffle on the gene key first;
    # each task then scatters its genes into chunked dense (genes × S) blocks
    # and accumulates one S×S partial via GEMM.  idx travels by closure
    # capture (bounded: S entries).
    def _partial_gram(batches):
        chunks = [b for b in batches if len(b)]
        if not chunks:
            return
        pdf = pd.concat(chunks, ignore_index=True)
        codes, _ = pd.factorize(pdf["__g"], sort=False)
        cols = pdf["__s"].map(idx).to_numpy(dtype=np.int64)
        vals = pdf["__v"].to_numpy(dtype=float)
        gp = np.zeros((n, n))
        chunk_genes = 4096  # caps task memory at chunk_genes × S doubles
        n_genes = int(codes.max()) + 1
        for lo in range(0, n_genes, chunk_genes):
            hi = min(lo + chunk_genes, n_genes)
            sel = (codes >= lo) & (codes < hi)
            m = np.zeros((hi - lo, n))
            m[codes[sel] - lo, cols[sel]] = vals[sel]
            gp += m.T @ m
        yield pd.DataFrame(
            {"i": np.arange(n, dtype=np.int64), "row": [gp[i].tolist() for i in range(n)]}
        )

    gram_rows = (
        centered.repartition("__g")
        .mapInPandas(_partial_gram, schema="i long, row array<double>")
        .collect()
    )
    g = np.zeros((n, n))
    for r in gram_rows:
        g[r["i"]] += np.asarray(r["row"])
    evals, evecs = np.linalg.eigh(g)
    u1 = evecs[:, -1]
    lam = max(float(evals[-1]), 0.0)
    # deterministic sign: largest-|coord| component positive
    if u1[int(np.argmax(np.abs(u1)))] < 0:
        u1 = -u1
    pc1 = u1 * math.sqrt(lam)
    batches = {
        r[0]: r[1]
        for r in batch_df.select(sample_col, batch_col).distinct().collect()
    }
    labels = [batches.get(s) for s in samples]
    # one-way ANOVA PC1 ~ batch (aov, Download_Preprocess.R:842)
    groups: dict = {}
    for s_i, b in enumerate(labels):
        if b is not None:
            groups.setdefault(b, []).append(pc1[s_i])
    f_stat = p_value = None
    if len(groups) > 1:
        grand = np.mean([v for vs in groups.values() for v in vs])
        n_obs = sum(len(vs) for vs in groups.values())
        k = len(groups)
        ssb = sum(len(vs) * (np.mean(vs) - grand) ** 2 for vs in groups.values())
        ssw = sum(sum((v - np.mean(vs)) ** 2 for v in vs) for vs in groups.values())
        d1, d2 = k - 1, n_obs - k
        if d2 > 0 and ssw > 0:
            f = (ssb / d1) / (ssw / d2)
            # P(F > f) = I_{d2/(d2 + d1 f)}(d2/2, d1/2)
            p = float(betainc(d2 / 2.0, d1 / 2.0, d2 / (d2 + d1 * f)))
            f_stat, p_value = round(float(f), 6), round(p, 6)
    rows = [
        (
            str(samples[i]),
            None if labels[i] is None else str(labels[i]),
            round(float(pc1[i]), 6),
            f_stat,
            p_value,
        )
        for i in range(n)
    ]
    return spark.createDataFrame(
        rows,
        f"{sample_col} string, {batch_col} string, pc1 double, f_stat double, p_value double",
    )
