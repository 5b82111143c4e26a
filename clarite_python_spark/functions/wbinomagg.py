"""Survey-weighted binomial fits via weighted contingency cells.

The binomial analog of the weighted-Gaussian sufficient-stats path
(functions/wolsagg.py), completing the scale matrix for survey-weighted
logistic studies (reference ``weighted_glm_regression.py`` semantics).

A weighted logistic fit sees the data only through the distinct
(rv value, covariate values, outcome) cells: IRLS sums, the deviance,
and the per-observation scores are all additive in the weight within a
cell. Adding the CLUSTER to the cell key keeps the linearized sandwich
exact too — per-cluster score sums are additive over a cluster's cells:

    cells:  key = (variable, value, y, covariates..., cluster)
            stats = (n, sum of normalized weights)
    fit:    frequency-weighted IRLS over cells (identical iterates to
            the row-level kernel in functions/wglm.py:fit_weighted_glm —
            same start, same deviance criterion)
    vcov:   per-cluster score sums J_c = sum over the cluster's cells of
            sw * (y - mu) * x, then the same stratum-centering /
            lonely-PSU / fpc algebra as the kernel on the tiny
            (#clusters x p) J matrix (mirrors wolsagg.py:244-264).

So ONE unpivot -> count/sum aggregation (whole-stage codegen, map-side
combine) replaces the grouped tail's shuffle of data rows and
per-variable Python groups; the shuffle carries O(#vars x |cells| x
#clusters) tiny rows and the per-variable IRLS runs driver-side in
microseconds. #clusters is bounded by the sampling frame (the caller
gates at ``analyze.SURVEY_MAX_UNITS``), so this is scan-bound at any
data size — the designed 100-TB path for survey-weighted case/control
GWAS (3-valued genotypes x ~60 NHANES PSUs ~ 360 cells/variant).

No-cluster designs (strata-only or weights-only) are covered too: there
every observation is its own cluster (reference survey_design.py:195-198)
so the sandwich needs per-OBSERVATION score outer products — still
cell-additive via the second weight moment:

    sum_i s_i           = sum_cells sw  * r * x      (r = y - mu)
    sum_i s_i s_i'      = sum_cells sw2 * r^2 * x x'  (sw2 = sum of w^2)

with stratum centering in closed form (subtract n_full * m m',
m = stratum score sum / full-design stratum rows; 'adjust' single-row
strata subtract the grand per-observation mean) — so cells key on the
STRATUM instead of the cluster and the same one-pass aggregation serves
all design shapes.

Eligibility (caller falls back to the grouped kernel otherwise):
- a design of at most ``analyze.SURVEY_MAX_UNITS`` clusters (strata
  for no-cluster designs);
- all covariates BINARY/CATEGORICAL;
- variable BINARY/CATEGORICAL, or CONTINUOUS with a known-small domain
  (encoded genotypes); cell blowup past ``max_cells`` re-checked exactly
  against the collected cells.

Reference parity: per-variable flow mirrors the weighted kernel
(operators/analyze.py:_make_weighted_kernel / reference
``weighted_glm_regression.py:357-494``): subset + complete-case masks,
missing-weight taxonomy (drop_unweighted label vs error row), min_n
gate, treatment coding on complete-case sorted levels, sandwich Wald t
with survey dof for binary/continuous, working LRT (regterm_pvalue) for
categorical, non-converged categorical fits emitting no rows. Verified
against the same R ``survey`` NHANES goldens as the kernel and against
the kernel itself at tight rtol (tests/test_survey.py,
tests/test_wbinomagg.py).
"""

from __future__ import annotations

from collections import defaultdict
from typing import Callable, Sequence

import numpy as np
import pandas as pd
from pyspark import StorageLevel
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from clarite_python_spark.catalog import BINARY, CATEGORICAL, CONTINUOUS, qcol
from clarite_python_spark.functions.binomagg import _sorted_levels
from clarite_python_spark.functions.distributions import t_sf
from clarite_python_spark.functions.glm import dummy_encode
from clarite_python_spark.functions.wglm import (
    BINOMIAL,
    _center_strata,
    fit_weighted_glm,
    jackknife_vcov,
    regterm_pvalue,
)

__all__ = ["weighted_binomial_cells_rows"]


def _null_if_nan(df: DataFrame, c: str):
    """Grouping key that treats NaN like NULL (pandas .isna() parity —
    Spark groupBy would otherwise keep NaN as its own live cell)."""
    col = qcol(c)
    if dict(df.dtypes).get(c) in ("double", "float"):
        return F.when(~F.isnan(col), col).alias(c)
    return col.alias(c)


def _cluster_sandwich(
    score: np.ndarray,
    cell_clusters: list,
    n_rows: float,
    a_inv: np.ndarray,
    constants: dict,
) -> np.ndarray:
    """Linearized sandwich from per-cell scores summed into full-design
    cluster slots (absent clusters = zero rows, shifting stratum means —
    kernel parity with wglm.sandwich_vcov / wolsagg.py:244-264).
    ``n_rows`` is the OBSERVATION count (not cell count): the 'adjust'
    pop-mean is the per-observation score mean."""
    clusters: list = list(constants["clusters"])
    cl_index = {c: i for i, c in enumerate(clusters)}
    p = score.shape[1]
    jdata = np.zeros((len(clusters), p))
    idx = np.fromiter((cl_index[c] for c in cell_clusters), dtype=int, count=len(cell_clusters))
    np.add.at(jdata, idx, score)

    strat_for_clust = constants["strat_for_clust"]
    clust_per_strat = constants["clust_per_strat"]
    j_strat = np.asarray([strat_for_clust[c] for c in clusters], dtype=object)
    if constants["has_strata"]:
        pop_mean = jdata.sum(axis=0) / n_rows
        jdata = _center_strata(jdata, j_strat, constants["single_cluster"], pop_mean)
        if constants["single_cluster"] == "average":
            n_single = sum(1 for v in clust_per_strat.values() if v == 1)
            n_strat = len(clust_per_strat)
            jdata = jdata * np.sqrt(n_strat / (n_strat - n_single))
    nh = np.asarray([clust_per_strat[s] for s in j_strat], dtype=float)
    with np.errstate(divide="ignore", invalid="ignore"):
        mh = np.sqrt(nh / (nh - 1.0))
    mh[~np.isfinite(mh)] = 1.0
    fpc_for_clust = constants.get("fpc_for_clust", {})
    fh = np.sqrt(1.0 - np.asarray([fpc_for_clust.get(c, 0.0) for c in clusters], dtype=float))
    jdata = jdata * (fh * mh)[:, None]
    return a_inv @ (jdata.T @ jdata) @ a_inv.T


def _stratum_sandwich(
    score: np.ndarray,
    u: np.ndarray,
    cell_strat: list,
    n_rows: float,
    a_inv: np.ndarray,
    constants: dict,
) -> np.ndarray:
    """No-cluster linearized sandwich from per-cell moments. ``score``
    rows are sum_i s_i per cell (= sw*r*x); ``u`` rows are sqrt(sw2)*r*x
    so U_s' U_s = sum_i s_i s_i' within a stratum's cells."""
    p = score.shape[1]
    rows_per_strat = constants["rows_per_strat"]
    fpc_map = constants.get("fpc_for_strat", {})
    single_cluster = constants["single_cluster"]
    if not constants["has_strata"]:
        n_full = float(rows_per_strat["__all__"])
        scale = n_full / (n_full - 1.0) if n_full > 1 else 1.0
        v = (u.T @ u) * scale * (1.0 - float(fpc_map.get("__all__", 0.0)))
        return a_inv @ v @ a_inv.T

    pop_mean = score.sum(axis=0) / n_rows
    by_strat: dict = {}
    for i, s in enumerate(cell_strat):
        by_strat.setdefault(s, []).append(i)
    v = np.zeros((p, p))
    for s, n_full in rows_per_strat.items():
        idx = by_strat.get(s, [])
        n_full = float(n_full)
        s1 = score[idx].sum(axis=0) if idx else np.zeros(p)
        if n_full <= 1.0:
            if single_cluster == "adjust":
                d = s1 - pop_mean
                contrib = np.outer(d, d)
            else:  # centered on the (trivial) stratum mean -> zero
                continue
            mh2 = 1.0  # nh/(nh-1) is inf-guarded to 1 in the kernel
        else:
            us = u[idx]
            s2 = us.T @ us if len(idx) else np.zeros((p, p))
            m = s1 / n_full
            contrib = s2 - n_full * np.outer(m, m)
            mh2 = n_full / (n_full - 1.0)
        v += contrib * mh2 * (1.0 - float(fpc_map.get(s, 0.0)))
    if single_cluster == "average":
        n_single = sum(1 for x in rows_per_strat.values() if x == 1)
        n_strat = len(rows_per_strat)
        v = v * (n_strat / (n_strat - n_single))
    return a_inv @ v @ a_inv.T


def weighted_binomial_cells_rows(
    df: DataFrame,
    outcome: str,
    rvs: Sequence[str],
    rv_types: dict[str, str],
    covariates: Sequence[str],
    covar_types: dict[str, str],
    min_n: int,
    report_categorical_betas: bool,
    default_row: Callable[[str], dict],
    constants: dict,
    weight_col: str | None,
    weight_mean: float,
    weight_label: str | None,
    clust_col: str,
    subset_col: str,
    strat_col: str | None = None,
    vcov_method: str = "stata",
    max_cells: int = 100_000,
    var_batch: int = 4096,
) -> tuple[list[dict], list[str]]:
    """Weighted association rows (RESULT_SCHEMA keys) for discrete-domain
    variables sharing ONE weight column (multi-weight designs call once
    per weight group). ``df`` already carries the design columns.
    Returns (rows, variables that must fall back to the grouped kernel).
    """
    has_cluster = constants["has_cluster"]
    rvs = list(rvs)
    covariates = list(covariates)

    # a row with NO design info fails EVERY variable (the kernel raises
    # on subset.isna().any()) — one cheap existence probe
    if df.where(F.col(subset_col).isNull()).limit(1).count() > 0:
        return [default_row(rv) for rv in rvs], []

    if weight_col is not None:
        wc = qcol(weight_col)
        wmiss_expr = wc.isNull() | F.isnan(wc)
        wnorm_expr = F.when(~wmiss_expr, wc / F.lit(float(weight_mean)))
    else:
        wmiss_expr = F.lit(False)
        wnorm_expr = F.lit(1.0)

    # cell grouping key: the CLUSTER for cluster designs; the STRATUM for
    # strata-only designs (each obs is its own cluster, so the sandwich
    # needs per-stratum moments); a constant for weights-only designs
    if has_cluster:
        group_expr = F.col(clust_col).alias("__g")
    elif constants["has_strata"] and strat_col is not None:
        group_expr = F.col(strat_col).alias("__g")
    else:
        group_expr = F.lit(0).alias("__g")

    base = df.where(F.col(subset_col))
    cell_rows: list = []
    prefallback: set[str] = set()
    dtypes = dict(df.dtypes)
    for s in range(0, len(rvs), var_batch):
        batch = rvs[s : s + var_batch]
        # skip the type-unifying string cast when the whole batch is
        # already one type (encoded GWAS panels: all DOUBLE) — saves
        # rows x vars string conversions on the cell scan
        native = all(rv_types[v] == CONTINUOUS for v in batch) and len(
            {dtypes.get(v) for v in batch}
        ) == 1
        val_cols = (
            [qcol(v).alias(v) for v in batch]
            if native
            else [qcol(v).cast("string").alias(v) for v in batch]
        )
        long = base.select(
            _null_if_nan(df, outcome),
            *[_null_if_nan(df, c) for c in covariates],
            group_expr,
            wmiss_expr.alias("__wmiss"),
            wnorm_expr.alias("__w"),
            *val_cols,
        ).unpivot(
            # the values default to every non-id column, i.e. exactly
            # ``batch``: a name list would be parsed (dots, backticks)
            [qcol(c) for c in [outcome, *covariates, "__g", "__wmiss", "__w"]],
            None,
            "variable",
            "value",
        )
        cells_df = (
            long.groupBy("variable", "value", outcome, *covariates, "__g", "__wmiss")
            .agg(
                F.count(F.lit(1)).alias("__n"),
                F.sum("__w").alias("__sw"),
                F.sum(F.col("__w") * F.col("__w")).alias("__sw2"),
            )
            # DISK_ONLY: the cell table is read twice (pre-count guard +
            # toPandas) but a deserialized in-memory persist competes
            # with execution memory at GWAS width (guide §5)
            .persist(StorageLevel.DISK_ONLY)
        )
        try:
            # pre-count guard: count COMPLETE cells per variable on the
            # executors (same predicate as the per-rv gate below) BEFORE
            # any driver collect, so a pathological wide-domain
            # "categorical" falls back to the grouped kernel without ever
            # materializing its cell list on the driver
            complete_cell = (
                ~F.col("__wmiss")
                & F.col("value").isNotNull()
                & qcol(outcome).isNotNull()
            )
            for c in covariates:
                complete_cell = complete_cell & qcol(c).isNotNull()
            counts = {
                r["variable"]: int(r["n_comp"])
                for r in cells_df.groupBy("variable")
                .agg(F.sum(F.when(complete_cell, 1).otherwise(0)).alias("n_comp"))
                .collect()
            }
            big = {v for v in batch if counts.get(v) and counts[v] > max_cells}
            prefallback |= big
            keep = [v for v in batch if v not in big]
            if keep:
                # Arrow toPandas, not collect(): at GWAS width the cell
                # list is #vars x ~360 rows and Row unpickling +
                # Row.__getitem__ dominated the driver (~15 s measured at
                # 1,000 SNPs); plain dicts restore cheap field access.
                # NaN -> None so the completeness checks below keep Row
                # semantics for SQL NULLs.
                pdf = cells_df.where(F.col("variable").isin(keep)).toPandas()
                pdf = pdf.astype(object)
                pdf = pdf.where(pd.notna(pdf), None)
                cell_rows.extend(pdf.to_dict("records"))
        finally:
            cells_df.unpersist()
    by_var: dict[str, list] = defaultdict(list)
    for r in cell_rows:
        by_var[r["variable"]].append(r)

    rows: list[dict] = []
    fallback: list[str] = []
    for rv in rvs:
        if rv in prefallback:
            fallback.append(rv)
            continue
        vtype = rv_types[rv]
        cells = by_var.get(rv, [])
        try:
            comp = [
                r
                for r in cells
                if not r["__wmiss"]
                and r["value"] is not None
                and r[outcome] is not None
                and all(r[c] is not None for c in covariates)
            ]
            if len(comp) > max_cells:
                fallback.append(rv)
                continue
            label = weight_label
            n_mw = sum(int(r["__n"]) for r in cells if r["__wmiss"] and r["value"] is not None)
            if n_mw > 0:
                if constants.get("drop_unweighted"):
                    label = f"{weight_label} ({n_mw} observations are missing weights)"
                else:
                    raise ValueError("observations are missing weights")
            N = int(sum(r["__n"] for r in comp))
            if N < min_n:
                raise ValueError(f"too few complete observations ({N} < {min_n})")
            cell_g = [r["__g"] for r in comp]
            if has_cluster and any(g is None for g in cell_g):
                raise ValueError("fitted rows with no cluster assignment")

            y = np.asarray([float(r[outcome]) for r in comp])
            w = np.asarray([float(r["__sw"]) for r in comp])
            n_cells = len(comp)
            # intercept + covariates (kernel's _design_matrix: drop
            # non-varying, treatment-code on complete-case sorted levels)
            cols = [np.ones(n_cells)]
            names_r = ["Intercept"]
            for cv in covariates:
                vals = [r[cv] for r in comp]
                if len(set(vals)) <= 1:
                    continue
                levels = sorted(set(vals))
                mat, nm = dummy_encode(np.asarray(vals, dtype=object), levels, cv)
                if mat.shape[1]:
                    cols.append(mat)
                    names_r.extend(nm)
            Xr = np.column_stack([c if c.ndim == 2 else c[:, None] for c in cols])

            # survey dof (reference survey_design.py:723-745): observed
            # cluster/stratum counts; no-cluster designs use N as rows
            if has_cluster:
                strat_for_clust = constants["strat_for_clust"]
                n_clust_obs = len(set(cell_g))
                n_strat_obs = len({strat_for_clust[c] for c in set(cell_g)})

                def dof_for(n_params: int) -> float:
                    if constants["has_strata"]:
                        return n_clust_obs - n_strat_obs - (n_params - 1)
                    return n_clust_obs - 1 - (n_params - 1)

            else:
                n_strat_obs = len(set(cell_g))

                def dof_for(n_params: int) -> float:
                    if constants["has_strata"]:
                        return N - n_strat_obs - (n_params - 1)
                    return N - n_params - 1

            sw2 = np.asarray([float(r["__sw2"]) for r in comp])

            def sandwich(fitted, X):
                if vcov_method == "jackknife":
                    # delete-1-cluster replicates are EXACT on cells: the
                    # replicate reweighting (zero the cluster, scale its
                    # stratum by nh/(nh-1)) is constant within a cell, so
                    # freq-weighted refits reproduce row-level iterates
                    # (cluster designs only — enforced by the caller)
                    strat_arr = np.asarray(
                        [constants["strat_for_clust"][c] for c in cell_g], dtype=object
                    )
                    return jackknife_vcov(
                        X, y, w, BINOMIAL, fitted, strat_arr,
                        np.asarray(cell_g, dtype=object), constants,
                    )
                if has_cluster:
                    return _cluster_sandwich(fitted.score, cell_g, N, fitted.a_inv, constants)
                u = (np.sqrt(sw2) * (y - fitted.mu))[:, None] * X
                return _stratum_sandwich(fitted.score, u, cell_g, N, fitted.a_inv, constants)

            if vtype in (CONTINUOUS, BINARY):
                if vtype == CONTINUOUS:
                    x = np.asarray([float(r["value"]) for r in comp])[:, None]
                    names = names_r + [rv]
                else:
                    vals = [r["value"] for r in comp]
                    levels = _sorted_levels(list(dict.fromkeys(vals)))
                    x, nm = dummy_encode(np.asarray(vals, dtype=object), levels, rv)
                    names = names_r + nm
                X = np.hstack([Xr, x])
                fit = fit_weighted_glm(X, y, w, BINOMIAL)
                row = default_row(rv)
                row.update(Variable_type=vtype, Weight=label, N=N)
                if fit.converged:
                    vcov = sandwich(fit, X)
                    pos = [
                        i for i, n in enumerate(names)
                        if n == rv or n.startswith(f"{rv}[T.")
                    ]
                    if len(pos) != 1:
                        raise ValueError(f"no unique parameter for {rv}")
                    i = pos[0]
                    beta = float(fit.params[i])
                    se = float(np.sqrt(max(vcov[i, i], 0.0)))
                    dof = dof_for(X.shape[1])
                    if dof < 1:
                        row.update(Converged=True, Beta=beta, SE=np.inf, Beta_pvalue=1.0, pvalue=1.0)
                    else:
                        p = 2.0 * float(t_sf(abs(beta / se), dof))
                        row.update(Converged=True, Beta=beta, SE=se, Beta_pvalue=p, pvalue=p)
                rows.append(row)
            elif vtype == CATEGORICAL:
                vals = [r["value"] for r in comp]
                levels = _sorted_levels(list(dict.fromkeys(vals)))
                mat, nm = dummy_encode(np.asarray(vals, dtype=object), levels, rv)
                X_f = np.hstack([Xr, mat])
                names_f = names_r + nm
                fit_f = fit_weighted_glm(X_f, y, w, BINOMIAL)
                fit_r = fit_weighted_glm(Xr, y, w, BINOMIAL)
                # non-converged weighted categorical fits emit NO rows
                # (kernel parity, reference weighted_glm_regression.py:245-286)
                if fit_f.converged and fit_r.converged:
                    vcov_f = sandwich(fit_f, X_f)
                    dof = dof_for(X_f.shape[1])
                    chisq = fit_r.deviance - fit_f.deviance
                    lr_p = regterm_pvalue(chisq, vcov_f, names_f, fit_f.a_inv, rv, dof)
                    if report_categorical_betas:
                        stderr = np.sqrt(np.clip(np.diag(vcov_f), 0, None))
                        for i, pname in enumerate(names_f):
                            if not (pname == rv or pname.startswith(f"{rv}[T.")):
                                continue
                            beta, se = float(fit_f.params[i]), float(stderr[i])
                            if dof < 1:
                                se, bp = np.inf, 1.0
                            else:
                                bp = 2.0 * float(t_sf(abs(beta / se), dof))
                            row = default_row(rv)
                            row.update(
                                Variable_type=vtype, Weight=label, N=N,
                                Converged=True, Category=pname, Beta=beta, SE=se,
                                Beta_pvalue=bp, LRT_pvalue=lr_p, pvalue=lr_p,
                            )
                            rows.append(row)
                    else:
                        row = default_row(rv)
                        row.update(
                            Variable_type=vtype, Weight=label, N=N,
                            Converged=True, LRT_pvalue=lr_p, pvalue=lr_p,
                        )
                        rows.append(row)
            else:
                raise ValueError(f"unsupported regression variable type {vtype!r}")
        except Exception:
            rows.append(default_row(rv))
    return rows, fallback
