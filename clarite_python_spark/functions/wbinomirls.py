"""Survey-weighted BINOMIAL fits for CONTINUOUS variables via
distributed IRLS — closes the last weighted scale cliff.

The grouped kernel ships data rows through per-variable Python groups,
which breaks past ~1e7 rows/variable; the cell path
(functions/wbinomagg.py) needs small value domains.  Continuous RVs in a
weighted logistic study previously had no scale path (documented cliff,
SCALE.md).  This module is that path:

- **Iteration scans.** One mapInPandas pass per IRLS iteration computes,
  for EVERY still-unconverged variable at once, the working weighted
  Gram ``X'(w m)X``, the rhs ``X'(w m)z`` and the deviance of the
  current coefficients, where ``m = mu(1-mu)`` comes from the
  per-variable linear predictor (coefficients broadcast as closure
  literals).  The driver solves the tiny q x q systems.  Iterates are
  IDENTICAL to the kernel's ``functions/wglm.fit_weighted_glm``: same
  ``mu = (y+0.5)/2`` start, same ``eta``/``mu`` clips, same deviance
  atol-1e-8 stopping rule, same per-iteration solve.
- **Final scan.** Per-(variable, cluster) score sums ``w (y - mu) z``
  (plus per-stratum ``w^2 (y-mu)^2 z z'`` second moments for no-cluster
  designs, where every observation is its own cluster) feed the same
  stratum-centering / lonely-PSU / fpc sandwich algebra as the kernel
  (functions/wglm.py:143-245) and the Gaussian suffstats path
  (functions/wolsagg.py).

Every scan is shuffle-free over data rows (map-side partial sums + a
tiny groupBy over #vars x #groups stat rows); deviance converges in
~5-15 iterations, so total cost is a bounded number of scans at any
data size — no shuffle of data rows, no driver-side cell lists.

Reference semantics: ``weighted_glm_regression.py:140-194`` (fit +
Wald), ``survey_model.py:105-171`` (linearized variance),
``survey_design.py:195-198`` (no-cluster designs),
``survey_design.py:723-745`` (survey dof).

Covariate dummies use the catalog's full-frame levels with
zero-variance columns dropped from the Gram (the wolsagg convention,
kernel-equivalent for continuous RVs because the fitted span — hence
the RV's beta and SE — is invariant to the dummy basis).
"""

from __future__ import annotations

from typing import Callable, Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from clarite_python_spark.catalog import BINARY, CATEGORICAL, select_positional
from clarite_python_spark.functions.distributions import t_sf
from clarite_python_spark.functions.wglm import _center_strata

__all__ = ["weighted_binomial_irls_rows"]


def _row_state(pdf, outcome, covariates, covar_types, levels, rvs, weight_col, weight_mean, subset_col):
    """Shared per-batch row state: design block, masks, weights."""
    from clarite_python_spark.functions.olsagg import _covariate_frame

    n_rows = len(pdf)
    c_design, c_ok = _covariate_frame(pdf, covariates, covar_types, levels)
    y = pd.to_numeric(pdf[outcome]).to_numpy(dtype=float)
    base_ok = c_ok & ~np.isnan(y)
    zb = np.nan_to_num(np.column_stack([np.ones(n_rows), c_design]))

    subset = pdf[subset_col]
    design_ok = subset.notna().to_numpy()
    subset_ok = subset.fillna(False).to_numpy(dtype=bool)
    if weight_col is not None:
        w_raw = pd.to_numeric(pdf[weight_col]).to_numpy(dtype=float)
    else:
        w_raw = np.ones(n_rows)
    w_ok = ~np.isnan(w_raw)
    w_norm = np.nan_to_num(w_raw) / weight_mean

    v = pdf[rvs].to_numpy(dtype=float)
    v_ok = ~np.isnan(v)
    m = v_ok & (base_ok & subset_ok & w_ok & design_ok)[:, None]
    return dict(
        y=np.nan_to_num(y), zb=zb, v=np.nan_to_num(v), m=m,
        w=w_norm, v_ok=v_ok, subset_ok=subset_ok, w_ok=w_ok,
        design_ok=design_ok,
    )


def _mu_state(st, betas_mat):
    """Per-variable eta/mu/wm/z matrices (n x nvars), kernel-identical:
    betas_mat None means the IRLS start (mu = (y+0.5)/2)."""
    y = st["y"]
    n = len(y)
    if betas_mat is None:
        mu1 = (y + 0.5) / 2.0
        eta1 = np.log(mu1 / (1.0 - mu1))
        eta = np.repeat(eta1[:, None], st["v"].shape[1], axis=1)
        mu = np.repeat(mu1[:, None], st["v"].shape[1], axis=1)
    else:
        eta = np.clip(
            st["zb"] @ betas_mat[:, :-1].T + st["v"] * betas_mat[:, -1][None, :],
            -30.0, 30.0,
        )
        mu = np.clip(1.0 / (1.0 + np.exp(-eta)), 1e-10, 1.0 - 1e-10)
    wm = np.clip(mu * (1.0 - mu), 1e-10, None)
    z = eta + (y[:, None] - mu) / wm
    return mu, wm, z


def _irls_scan(
    df: DataFrame,
    outcome: str,
    rvs: list,
    covariates: list,
    covar_types: dict,
    levels: dict,
    betas: dict | None,
    weight_col: str | None,
    weight_mean: float,
    subset_col: str,
    rv_cols: list | None = None,
    rep_of: list | None = None,
    clust_col: str | None = None,
    strat_col: str | None = None,
):
    """One IRLS scan: per-UNIT working Gram, rhs, deviance of the
    CURRENT coefficients, plus the complete-case / taxonomy counts.
    ``betas`` maps unit -> full zdim coefficient vector (zeros in dropped
    slots); None runs the kernel's start iteration.

    A unit is normally a regression variable. For jackknife replicate
    fits, units are (rv, left-out cluster) pairs: ``rvs`` carries unique
    unit LABELS, ``rv_cols`` the underlying value column per unit (may
    repeat), and ``rep_of`` per unit a ``(cluster, stratum_or_None,
    nh)`` triple — each row's weight is multiplied by the kernel's
    replicate factor (0 in the left-out cluster, nh/(nh-1) in its
    stratum — or everywhere when stratum is None, i.e. no-strata
    designs — 1 elsewhere; functions/wglm.py:jackknife_vcov), so the
    same batched scan fits every replicate of every variable at once."""
    k = sum(len(levels[cv]) - 1 if cv in levels else 1 for cv in covariates)
    zdim = k + 2
    tri_b = [(i, j) for i in range(k + 1) for j in range(i, k + 1)]
    stat_cols = (
        ["n", "nwmiss", "ndmiss", "dev"]
        + [f"g{i}_{j}" for i, j in tri_b]          # zb x zb block
        + [f"gv{i}" for i in range(k + 1)]          # zb x v column
        + ["gvv"]                                   # v x v
        + [f"h{i}" for i in range(k + 1)]           # zb' W z
        + ["hv"]                                    # v' W z
    )
    out_schema = "unit string, " + ", ".join(f"`{c}` double" for c in stat_cols)
    betas_mat = (
        np.vstack([betas[rv] for rv in rvs]) if betas is not None else None
    )
    cov_list, cov_types, lvs = list(covariates), dict(covar_types), levels
    value_cols = list(rv_cols) if rv_cols is not None else list(rvs)
    reps = list(rep_of) if rep_of is not None else None

    def partials(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            pdf = pdf.set_axis(need, axis=1)
            st = _row_state(
                pdf, outcome, cov_list, cov_types, lvs, value_cols,
                weight_col, weight_mean, subset_col,
            )
            mu, wm, z = _mu_state(st, betas_mat)
            mf = st["m"].astype(float)
            if reps is None:
                weff = st["w"][:, None]
            else:
                # replicate weight factors per unit (kernel's
                # jackknife_vcov reweighting, vectorized across units)
                clv = pdf[clust_col].to_numpy(dtype=object)
                stv = (
                    pdf[strat_col].to_numpy(dtype=object)
                    if strat_col is not None
                    else None
                )
                fac = np.ones((len(pdf), len(reps)))
                for j, (c, s_, nh) in enumerate(reps):
                    if nh > 1.0:
                        if s_ is None or stv is None:
                            fac[:, j] = nh / (nh - 1.0)
                        else:
                            fac[:, j] = np.where(stv == s_, nh / (nh - 1.0), 1.0)
                    fac[clv == c, j] = 0.0
                weff = st["w"][:, None] * fac
            ww = mf * weff * wm  # masked w * m per unit
            y, zb, v = st["y"], st["zb"], st["v"]

            out = {"unit": np.asarray(rvs, dtype=object)}
            out["n"] = mf.sum(axis=0)
            out["nwmiss"] = (
                st["v_ok"] & st["subset_ok"][:, None] & ~st["w_ok"][:, None]
            ).astype(float).sum(axis=0)
            out["ndmiss"] = np.full(len(rvs), float((~st["design_ok"]).sum()))
            # deviance of the CURRENT coefficients (mu already clipped)
            dev_terms = y[:, None] * np.log(mu) + (1.0 - y[:, None]) * np.log(1.0 - mu)
            out["dev"] = (-2.0 * mf * weff * dev_terms).sum(axis=0)

            prods = np.stack([zb[:, i] * zb[:, j] for i, j in tri_b], axis=1)
            gb = prods.T @ ww  # (ntri_b x nvars)
            for t, (i, j) in enumerate(tri_b):
                out[f"g{i}_{j}"] = gb[t]
            wv = ww * v
            for i in range(k + 1):
                out[f"gv{i}"] = (zb[:, i][:, None] * wv).sum(axis=0)
            out["gvv"] = (wv * v).sum(axis=0)
            wz = ww * z
            for i in range(k + 1):
                out[f"h{i}"] = (zb[:, i][:, None] * wz).sum(axis=0)
            out["hv"] = (wz * v).sum(axis=0)
            yield pd.DataFrame(out)

    need = [outcome, *covariates, *dict.fromkeys(value_cols), subset_col]
    if weight_col is not None:
        need.append(weight_col)
    if reps is not None:
        need.append(clust_col)
        if strat_col is not None:
            need.append(strat_col)
    reduced = (
        select_positional(df, need)
        .mapInPandas(partials, out_schema)
        .groupBy("unit")
        .agg(*[F.sum(f"`{c}`").alias(c) for c in stat_cols])
        .collect()
    )
    stats = {}
    for r in reduced:
        g = np.zeros((zdim, zdim))
        for i, j in tri_b:
            g[i, j] = g[j, i] = float(r[f"g{i}_{j}"] or 0.0)
        for i in range(k + 1):
            g[i, -1] = g[-1, i] = float(r[f"gv{i}"] or 0.0)
        g[-1, -1] = float(r["gvv"] or 0.0)
        h = np.array(
            [float(r[f"h{i}"] or 0.0) for i in range(k + 1)] + [float(r["hv"] or 0.0)]
        )
        stats[r["unit"]] = dict(
            n=float(r["n"] or 0.0),
            nwmiss=float(r["nwmiss"] or 0.0),
            ndmiss=float(r["ndmiss"] or 0.0),
            dev=float(r["dev"] or 0.0),
            g=g,
            h=h,
        )
    return stats, k, zdim


def _score_scan(
    df: DataFrame,
    outcome: str,
    rvs: list,
    covariates: list,
    covar_types: dict,
    levels: dict,
    betas: dict,
    weight_col: str | None,
    weight_mean: float,
    groups: list,
    group_col: str | None,
    subset_col: str,
    second_moments: bool,
):
    """Final scan: per-(variable, group) score sums ``w (y - mu) z`` and
    fitted-row counts; with ``second_moments`` also ``w^2 (y-mu)^2 z z'``
    (no-cluster designs, where scores are per-observation clusters)."""
    fit_rvs = [rv for rv in rvs if rv in betas]
    k = sum(len(levels[cv]) - 1 if cv in levels else 1 for cv in covariates)
    zdim = k + 2
    tri_z = [(i, j) for i in range(zdim) for j in range(i, zdim)]
    nc = len(groups)
    cl_index = {c: i for i, c in enumerate(groups)}
    stat_cols = ["n"] + [f"s{i}" for i in range(zdim)]
    if second_moments:
        stat_cols += [f"u{i}_{j}" for i, j in tri_z]
    out_schema = "unit string, clust int, " + ", ".join(
        f"`{c}` double" for c in stat_cols
    )
    beta_mat = np.vstack([betas[rv] for rv in fit_rvs])
    cov_list, cov_types, lvs = list(covariates), dict(covar_types), levels

    def partials(batches):
        for pdf in batches:
            n_rows = len(pdf)
            if n_rows == 0:
                continue
            pdf = pdf.set_axis(need, axis=1)
            st = _row_state(
                pdf, outcome, cov_list, cov_types, lvs, fit_rvs,
                weight_col, weight_mean, subset_col,
            )
            if group_col is None:
                onehot = np.ones((n_rows, 1))
                cl_ok = np.ones(n_rows, dtype=bool)
            else:
                cl = pdf[group_col].map(cl_index).to_numpy(dtype=float)
                cl_ok = ~np.isnan(cl)
                onehot = np.zeros((n_rows, nc))
                rows_with_cl = np.where(cl_ok)[0]
                onehot[rows_with_cl, cl[rows_with_cl].astype(int)] = 1.0
            mu, _, _ = _mu_state(st, beta_mat)
            m = st["m"] & cl_ok[:, None]
            mf = m.astype(float)
            resid = st["y"][:, None] - mu  # y - mu per var
            wr = mf * st["w"][:, None] * resid  # w (y - mu), masked
            zb, v = st["zb"], st["v"]

            out = {
                "unit": np.repeat(fit_rvs, nc),
                "clust": np.tile(np.arange(nc), len(fit_rvs)),
            }
            out["n"] = (mf.T @ onehot).reshape(-1)
            for i in range(k + 1):
                out[f"s{i}"] = ((wr * zb[:, i][:, None]).T @ onehot).reshape(-1)
            out[f"s{zdim - 1}"] = ((wr * v).T @ onehot).reshape(-1)
            if second_moments:
                w2r2 = mf * (st["w"][:, None] * resid) ** 2
                for i, j in tri_z:
                    zi = zb[:, i][:, None] if i < k + 1 else v
                    zj = zb[:, j][:, None] if j < k + 1 else v
                    out[f"u{i}_{j}"] = ((w2r2 * zi * zj).T @ onehot).reshape(-1)
            yield pd.DataFrame(out)

    need = [outcome, *covariates, *fit_rvs, subset_col]
    if group_col is not None:
        need.append(group_col)
    if weight_col is not None:
        need.append(weight_col)
    reduced = (
        select_positional(df, need)
        .mapInPandas(partials, out_schema)
        .groupBy("unit", "clust")
        .agg(*[F.sum(f"`{c}`").alias(c) for c in stat_cols])
        .collect()
    )
    by_unit: dict[str, dict[int, dict]] = {}
    for r in reduced:
        by_unit.setdefault(r["unit"], {})[int(r["clust"])] = r
    return by_unit, tri_z, zdim


def weighted_binomial_irls_rows(
    df: DataFrame,
    outcome: str,
    rvs: Sequence[str],
    covariates: Sequence[str],
    covar_types: dict[str, str],
    levels_of: Callable[[str], list],
    min_n: int,
    default_row: Callable[[str], dict],
    constants: dict,
    weight_col: str | None,
    weight_mean: float,
    weight_label: str | None,
    strat_col: str,
    clust_col: str,
    subset_col: str,
    max_iter: int = 100,
    tol: float = 1e-8,
    vcov_method: str = "stata",
) -> list[dict]:
    """Weighted BINOMIAL association rows (RESULT_SCHEMA keys) for
    continuous variables sharing ONE weight column.  ``df`` already
    carries the design columns.  Handles cluster, strata-only and
    weights-only designs with the linearized (stata) sandwich, or —
    cluster designs only — ``vcov_method="jackknife"``: delete-1-cluster
    replicate fits batched through the SAME per-iteration scans (each
    (variable, left-out cluster) pair is one more unit with kernel-
    identical replicate weights), so the full jackknife costs a bounded
    number of extra scans, never a per-replicate pass over the data.  A
    non-converged replicate falls that variable back to the linearized
    sandwich (kernel behavior, functions/wglm.py:jackknife_vcov)."""
    rvs = list(rvs)
    covariates = list(covariates)
    has_cluster = constants["has_cluster"]
    has_strata = constants["has_strata"]
    single_cluster = constants["single_cluster"]
    levels = {
        cv: [str(x) for x in levels_of(cv)]
        for cv in covariates
        if covar_types.get(cv) in (BINARY, CATEGORICAL)
    }

    rows: list[dict] = []
    state: dict[str, dict] = {}

    # ---- init scan (kernel's start iteration) + taxonomy --------------
    stats0, k, zdim = _irls_scan(
        df, outcome, rvs, covariates, covar_types, levels, None,
        weight_col, weight_mean, subset_col,
    )
    for rv in rvs:
        row = default_row(rv)
        rows.append(row)
        st = stats0.get(rv)
        if st is None or st["ndmiss"] > 0:
            continue  # design missing rows -> error row (kernel parity)
        label = weight_label
        if st["nwmiss"] > 0:
            if constants.get("drop_unweighted"):
                label = f"{weight_label} ({int(st['nwmiss'])} observations are missing weights)"
            else:
                continue  # missing-weight error -> all-NaN row
        n_total = st["n"]
        if n_total < min_n:
            continue
        row.update(Variable_type="continuous", Weight=label, N=int(n_total))

        # zero-variance design columns (non-varying covariates) dropped
        # once, against the init working Gram (wolsagg convention)
        g = st["g"]
        w_tot = g[0, 0]
        keep = [0]
        for idx in range(1, k + 1):
            col_var = g[idx, idx] - (g[0, idx] ** 2 / w_tot if w_tot > 0 else 0.0)
            if col_var > 1e-12 * max(abs(g[idx, idx]), 1.0):
                keep.append(idx)
        keep.append(zdim - 1)
        gk = g[np.ix_(keep, keep)]
        hk = st["h"][keep]
        try:
            beta = np.linalg.solve(gk, hk)
        except np.linalg.LinAlgError:
            beta, *_ = np.linalg.lstsq(gk, hk, rcond=None)
        beta_full = np.zeros(zdim)
        beta_full[keep] = beta
        state[rv] = dict(
            row=row, keep=keep, beta=beta_full, dev_old=np.inf,
            converged=False, n_total=n_total,
        )

    # ---- IRLS loop: one scan per iteration over unconverged vars ------
    for it in range(1, max_iter + 1):
        active = [rv for rv, s in state.items() if not s["converged"]]
        if not active:
            break
        stats, _, _ = _irls_scan(
            df, outcome, active, covariates, covar_types, levels,
            {rv: state[rv]["beta"] for rv in active},
            weight_col, weight_mean, subset_col,
        )
        for rv in active:
            s = state[rv]
            st = stats[rv]
            if abs(st["dev"] - s["dev_old"]) < tol:
                s["converged"] = True  # fitted coefficients = current beta
                continue
            s["dev_old"] = st["dev"]
            if it == max_iter:
                continue  # kernel: loop exhausted -> Converged=False
            gk = st["g"][np.ix_(s["keep"], s["keep"])]
            hk = st["h"][s["keep"]]
            try:
                beta = np.linalg.solve(gk, hk)
            except np.linalg.LinAlgError:
                beta, *_ = np.linalg.lstsq(gk, hk, rcond=None)
            s["beta"] = np.zeros(zdim)
            s["beta"][s["keep"]] = beta

    fit_rvs = [rv for rv, s in state.items() if s["converged"]]
    if not fit_rvs:
        return rows

    # ---- jackknife replicates (cluster designs) -----------------------
    # one unit per (variable, left-out cluster): same batched IRLS loop,
    # kernel-identical replicate weights, chunked so per-batch numpy
    # state stays bounded at #units x rows-per-arrow-batch doubles
    jk_vcov: dict[str, np.ndarray] = {}
    if vcov_method == "jackknife" and has_cluster:
        clusters_full = list(constants["clusters"])
        sfc = constants["strat_for_clust"]
        cps = constants["clust_per_strat"]
        ffc = constants.get("fpc_for_clust", {})
        units_all = [
            (rv, c, sfc[c] if has_strata else None, float(cps[sfc[c]]))
            for rv in fit_rvs
            for c in clusters_full
        ]
        rep_state: dict[tuple, dict] = {}
        chunk_size = 256
        for start in range(0, len(units_all), chunk_size):
            chunk = units_all[start : start + chunk_size]
            labels = [str(start + j) for j in range(len(chunk))]
            info = {
                lab: dict(rv=u[0], cluster=u[1], stratum=u[2], nh=u[3])
                for lab, u in zip(labels, chunk)
            }

            def _rep_scan(active_labels, betas_or_none):
                stats_c, _, _ = _irls_scan(
                    df, outcome, active_labels, covariates, covar_types,
                    levels, betas_or_none, weight_col, weight_mean,
                    subset_col,
                    rv_cols=[info[lab]["rv"] for lab in active_labels],
                    rep_of=[
                        (info[lab]["cluster"], info[lab]["stratum"], info[lab]["nh"])
                        for lab in active_labels
                    ],
                    clust_col=clust_col,
                    strat_col=strat_col if has_strata else None,
                )
                return stats_c

            stats0c = _rep_scan(labels, None)
            cstate: dict[str, dict] = {}
            for lab in labels:
                rv = info[lab]["rv"]
                st0 = stats0c[lab]
                keep = state[rv]["keep"]
                gk = st0["g"][np.ix_(keep, keep)]
                hk = st0["h"][keep]
                try:
                    beta = np.linalg.solve(gk, hk)
                except np.linalg.LinAlgError:
                    beta, *_ = np.linalg.lstsq(gk, hk, rcond=None)
                bf = np.zeros(zdim)
                bf[keep] = beta
                cstate[lab] = dict(beta=bf, dev_old=np.inf, converged=False)
            for it in range(1, max_iter + 1):
                active = [lab for lab, s2 in cstate.items() if not s2["converged"]]
                if not active:
                    break
                stats_c = _rep_scan(
                    active, {lab: cstate[lab]["beta"] for lab in active}
                )
                for lab in active:
                    s2 = cstate[lab]
                    st2 = stats_c[lab]
                    if abs(st2["dev"] - s2["dev_old"]) < tol:
                        s2["converged"] = True
                        continue
                    s2["dev_old"] = st2["dev"]
                    if it == max_iter:
                        continue
                    keep = state[info[lab]["rv"]]["keep"]
                    gk = st2["g"][np.ix_(keep, keep)]
                    hk = st2["h"][keep]
                    try:
                        beta = np.linalg.solve(gk, hk)
                    except np.linalg.LinAlgError:
                        beta, *_ = np.linalg.lstsq(gk, hk, rcond=None)
                    s2["beta"] = np.zeros(zdim)
                    s2["beta"][keep] = beta
            for lab, s2 in cstate.items():
                rep_state[(info[lab]["rv"], info[lab]["cluster"])] = s2

        nh_vec = np.asarray([float(cps[sfc[c]]) for c in clusters_full], dtype=float)
        with np.errstate(divide="ignore", invalid="ignore"):
            mh = np.sqrt((nh_vec - 1.0) / nh_vec)
        mh[~np.isfinite(mh)] = 1.0
        fh = np.sqrt(
            1.0 - np.asarray([ffc.get(c, 0.0) for c in clusters_full], dtype=float)
        )
        for rv in fit_rvs:
            keep = state[rv]["keep"]
            reps_mat = np.zeros((len(clusters_full), len(keep)))
            ok = True
            for i, c in enumerate(clusters_full):
                s2 = rep_state[(rv, c)]
                if not s2["converged"]:
                    ok = False  # kernel: fall back to linearized sandwich
                    break
                reps_mat[i] = s2["beta"][keep] - state[rv]["beta"][keep]
            if not ok:
                continue
            reps_mat = reps_mat * (mh * fh)[:, None]
            jk_vcov[rv] = reps_mat.T @ reps_mat

    # ---- final scan: Gram at the final mu (for A) ---------------------
    stats_f, _, _ = _irls_scan(
        df, outcome, fit_rvs, covariates, covar_types, levels,
        {rv: state[rv]["beta"] for rv in fit_rvs},
        weight_col, weight_mean, subset_col,
    )

    # ---- score scan: per-group sums for the sandwich ------------------
    if has_cluster:
        groups = list(constants["clusters"])
        group_col = clust_col
        second = False
    elif has_strata:
        groups = list(constants["rows_per_strat"])
        group_col = strat_col
        second = True
    else:
        groups = ["__all__"]
        group_col = None
        second = True
    by_unit, tri_z, _ = _score_scan(
        df, outcome, fit_rvs, covariates, covar_types, levels,
        {rv: state[rv]["beta"] for rv in fit_rvs},
        weight_col, weight_mean, groups, group_col, subset_col, second,
    )

    strat_for_clust = constants.get("strat_for_clust", {})
    clust_per_strat = constants.get("clust_per_strat", {})
    rows_per_strat = constants.get("rows_per_strat", {})
    fpc_for_clust = constants.get("fpc_for_clust", {})
    fpc_for_strat = constants.get("fpc_for_strat", {})
    nc = len(groups)

    for rv in fit_rvs:
        s = state[rv]
        row, keep, n_total = s["row"], s["keep"], s["n_total"]
        p_k = len(keep)
        a_inv = np.linalg.pinv(stats_f[rv]["g"][np.ix_(keep, keep)])
        per_g = by_unit.get(rv, {})
        jdata = np.zeros((nc, p_k))
        for ci, r in per_g.items():
            jdata[ci] = [float(r[f"s{i}"] or 0.0) for i in keep]
        n_obs = {ci: float(r["n"] or 0.0) for ci, r in per_g.items()}

        if has_cluster:
            j_strat = np.asarray(
                [strat_for_clust[c] for c in groups], dtype=object
            )
            if has_strata:
                pop_mean = jdata.sum(axis=0) / n_total
                jdata = _center_strata(jdata, j_strat, single_cluster, pop_mean)
                if single_cluster == "average":
                    n_single = sum(1 for vv in clust_per_strat.values() if vv == 1)
                    n_strat = len(clust_per_strat)
                    jdata = jdata * np.sqrt(n_strat / (n_strat - n_single))
            nh = np.asarray([clust_per_strat[st_] for st_ in j_strat], dtype=float)
            with np.errstate(divide="ignore", invalid="ignore"):
                mh = np.sqrt(nh / (nh - 1.0))
            mh[~np.isfinite(mh)] = 1.0
            fh = np.sqrt(
                1.0
                - np.asarray([fpc_for_clust.get(c, 0.0) for c in groups], dtype=float)
            )
            jdata = jdata * (fh * mh)[:, None]
            v_hat = jdata.T @ jdata
            n_clust_fit = sum(1 for vv in n_obs.values() if vv > 0)
            n_strat_fit = len(
                {strat_for_clust[groups[ci]] for ci, vv in n_obs.items() if vv > 0}
            )
            if has_strata:
                dof = n_clust_fit - n_strat_fit - (p_k - 1)
            else:
                dof = n_clust_fit - 1 - (p_k - 1)
        else:
            v_hat = np.zeros((p_k, p_k))
            if has_strata:
                if single_cluster == "average":
                    n_single = sum(1 for vv in rows_per_strat.values() if vv == 1)
                    avg_scale = len(rows_per_strat) / (len(rows_per_strat) - n_single)
                else:
                    avg_scale = 1.0
                pop_mean = jdata.sum(axis=0) / n_total
                for ci, g_name in enumerate(groups):
                    n_full = float(rows_per_strat[g_name])
                    s1 = jdata[ci]
                    r = per_g.get(ci)
                    u_full = np.zeros((zdim, zdim))
                    if r is not None:
                        for i, j in tri_z:
                            u_full[i, j] = u_full[j, i] = float(r[f"u{i}_{j}"] or 0.0)
                    u_k = u_full[np.ix_(keep, keep)]
                    if n_full <= 1.0:
                        if single_cluster == "adjust":
                            d = s1 - pop_mean
                            contrib = np.outer(d, d)
                        else:
                            continue
                        mh2 = 1.0
                    else:
                        mm = s1 / n_full
                        contrib = u_k - n_full * np.outer(mm, mm)
                        mh2 = n_full / (n_full - 1.0)
                    v_hat += contrib * mh2 * (1.0 - float(fpc_for_strat.get(g_name, 0.0)))
                v_hat *= avg_scale
                n_strat_fit = sum(1 for vv in n_obs.values() if vv > 0)
                dof = n_total - n_strat_fit - (p_k - 1)
            else:
                n_full = float(rows_per_strat["__all__"])
                r = per_g.get(0)
                u_full = np.zeros((zdim, zdim))
                if r is not None:
                    for i, j in tri_z:
                        u_full[i, j] = u_full[j, i] = float(r[f"u{i}_{j}"] or 0.0)
                scale = n_full / (n_full - 1.0) if n_full > 1 else 1.0
                v_hat = (
                    u_full[np.ix_(keep, keep)]
                    * scale
                    * (1.0 - float(fpc_for_strat.get("__all__", 0.0)))
                )
                dof = n_total - p_k - 1

        vcov = a_inv @ v_hat @ a_inv.T
        if rv in jk_vcov:  # replicate-based variance replaces the sandwich
            vcov = jk_vcov[rv]
        se = float(np.sqrt(max(vcov[-1, -1], 0.0)))
        b = float(s["beta"][zdim - 1])
        if dof < 1:
            row.update(Converged=True, Beta=b, SE=np.inf, Beta_pvalue=1.0, pvalue=1.0)
        else:
            p = 2.0 * float(t_sf(abs(b / se), dof))
            row.update(Converged=True, Beta=b, SE=se, Beta_pvalue=p, pvalue=p)
    return rows
