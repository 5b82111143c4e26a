"""Survey-weighted Gaussian fits via per-cluster sufficient statistics.

For a Gaussian outcome and a CONTINUOUS variable v under a survey design
WITH a cluster variable, both the weighted fit and the linearized
sandwich variance are functions of per-(variable, cluster) weighted
masked sums. With z = [1, covariates..., v], weights w (normalized) and
v's complete-case-and-subset mask m:

    fit:      solve (sum_c Gz_c) b = sum_c hz_c
    sandwich: per-cluster score sum J_c = hz_c - Gz_c @ b
              (s_i = w_i (y_i - z_i'b) z_i summed within cluster),
    then the same stratum-centering / lonely-PSU / fpc algebra as the
    kernel (functions/wglm.py) on the tiny (#clusters x p) J matrix.

So ONE mapInPandas pass over the wide table replaces the grouped
tail's shuffle of data rows and per-variable Python groups. Per-cluster
accumulation is a sort + ``np.add.reduceat`` segment sum — O(batch x p)
per statistic and independent of #clusters (the dense one-hot matmul
this replaced was what capped the path at ~256 clusters) — and each
batch emits rows only for clusters it actually contains, so the shuffle
carries |vars| x |present clusters| x ~20 doubles. #clusters is bounded
by the sampling frame, so this is scan-bound at any data size; the
dispatch gate (``analyze.SURVEY_MAX_UNITS``) only bounds the
driver-side sandwich assembly.

Cluster designs need ONE scan (per-cluster Grams determine the
sandwich). No-cluster designs — where every observation is its own
cluster (reference survey_design.py:195-198) — use TWO scans
(:func:`weighted_gaussian_nocluster_rows`): pass 1 fits from per-stratum
Grams; pass 2 computes per-stratum sums of ``w^2 e^2 z z'`` against the
fitted coefficients, which is exactly ``sum_i s_i s_i'`` — so stratum
centering reduces to subtracting ``n_full * m m'`` in closed form.
Binary/categorical variables and Binomial outcomes go to the grouped
weighted kernel instead.

Verified against the same R `survey` goldens as the kernel
(fpc / apiclus1 designs) and against the kernel itself at rtol 1e-9.
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

__all__ = ["weighted_gaussian_suffstats_rows", "weighted_gaussian_nocluster_rows"]


def _grams_reduced(
    df: DataFrame,
    outcome: str,
    rvs: list,
    covariates: list,
    covar_types: dict,
    levels: dict,
    weight_col: str | None,
    weight_mean: float,
    groups: list,
    group_col: str | None,
    strat_col: str,
    clust_col: str,
    subset_col: str,
):
    """ONE mapInPandas pass computing per-(variable, group) weighted
    masked sums, reduced by a tiny groupBy. ``group_col`` is the design
    column whose values index ``groups`` (the cluster for cluster
    designs, the stratum for strata-only designs); ``None`` puts
    everything in one group (weights-only designs). Returns
    {rv: {group_index: stats_row}} with the per-group Gram pieces."""
    k = sum(len(levels[cv]) - 1 if cv in levels else 1 for cv in covariates)
    q = k + 2  # A = [1, covars..., y]
    tri = [(i, j) for i in range(q) for j in range(i, q)]

    nc = len(groups)
    cl_index = {c: i for i, c in enumerate(groups)}

    stat_cols = (
        ["n", "nwmiss", "ndmiss"]
        + [f"g{i}_{j}" for i, j in tri]
        + [f"u{i}" for i in range(q)]
        + ["uu"]
    )
    out_schema = "unit string, clust int, " + ", ".join(
        f"`{c}` double" for c in stat_cols
    )

    cov_list, cov_types, lvs = covariates, dict(covar_types), levels

    def partials(batches):
        from clarite_python_spark.functions.olsagg import _covariate_frame

        for pdf in batches:
            n_rows = len(pdf)
            if n_rows == 0:
                continue
            pdf = pdf.set_axis(need, axis=1)
            c_design, c_ok = _covariate_frame(pdf, cov_list, cov_types, lvs)
            y = pd.to_numeric(pdf[outcome]).to_numpy(dtype=float)
            base_ok = c_ok & ~np.isnan(y)
            a = np.column_stack([np.ones(n_rows), c_design, np.nan_to_num(y)])
            a[~base_ok] = 0.0  # keep NaN covariates out of the products

            subset = pdf[subset_col]
            design_ok = subset.notna().to_numpy()
            subset_ok = subset.fillna(False).to_numpy(dtype=bool)
            if weight_col is not None:
                w_raw = pd.to_numeric(pdf[weight_col]).to_numpy(dtype=float)
            else:
                w_raw = np.ones(n_rows)
            w_ok = ~np.isnan(w_raw)
            w_norm = np.nan_to_num(w_raw) / weight_mean

            # segment-sum machinery instead of a dense n_rows x nc
            # one-hot matmul: the one-hot's memory is what capped the
            # old path at ~256 clusters (VERDICT round 5, task 6).
            # Rows are sorted by cluster index once per batch; every
            # stat then reduces in O(n_rows * p), independent of nc,
            # and only clusters PRESENT in the batch are emitted.
            if group_col is None:  # weights-only: one group for all rows
                cl_ok = np.ones(n_rows, dtype=bool)
                idx_all = np.zeros(n_rows, dtype=np.int64)
            else:
                cl = pdf[group_col].map(cl_index).to_numpy(dtype=float)
                cl_ok = ~np.isnan(cl)
                idx_all = np.where(cl_ok, np.nan_to_num(cl), -1).astype(np.int64)
            order = np.argsort(idx_all[cl_ok], kind="stable")
            sorted_idx = idx_all[cl_ok][order]
            uniq, starts = np.unique(sorted_idx, return_index=True)
            nu = len(uniq)

            def seg(mat: np.ndarray) -> np.ndarray:  # n x p -> p x nu
                if nu == 0:
                    return np.zeros((mat.shape[1], 0))
                return np.add.reduceat(mat[cl_ok][order], starts, axis=0).T

            v = pdf[rvs].to_numpy(dtype=float)
            v_ok = ~np.isnan(v)
            # full inclusion mask per variable
            m = v_ok & (base_ok & subset_ok & w_ok & design_ok & cl_ok)[:, None]
            mf = m.astype(float)
            mw = mf * w_norm[:, None]  # weighted mask
            uw = np.nan_to_num(v) * mw  # w * v, masked

            # a row with NO design info (null subset after the left join)
            # fails EVERY variable (kernel parity: the weighted kernel
            # raises on subset.isna().any()); such rows have no cluster,
            # so park the batch count on cluster slot 0
            ndm_count = float((~design_ok).sum())
            emit_u = uniq
            pad = 0
            if ndm_count > 0 and 0 not in uniq:
                emit_u = np.concatenate([[0], uniq])
                pad = 1
            n_emit = nu + pad
            if n_emit == 0:
                continue

            out = {
                "unit": np.repeat(rvs, n_emit),
                "clust": np.tile(emit_u.astype(np.int64), len(rvs)),
            }

            def put(name: str, mat: np.ndarray) -> None:  # mat: p x nu
                if pad:
                    mat = np.concatenate([np.zeros((mat.shape[0], 1)), mat], axis=1)
                out[name] = mat.reshape(-1)

            put("n", seg(mf))
            # missing-weight rows sit inside the design (subset true), so
            # they always carry a cluster — the segment sum catches them
            nwmiss = (v_ok & subset_ok[:, None] & ~w_ok[:, None]).astype(float)
            put("nwmiss", seg(nwmiss))
            ndm = np.zeros((len(rvs), n_emit))
            if ndm_count > 0:
                ndm[:, list(emit_u).index(0)] = ndm_count
            out["ndmiss"] = ndm.reshape(-1)
            prods = np.stack([a[:, i] * a[:, j] for i, j in tri], axis=1)
            for t, (i, j) in enumerate(tri):
                put(f"g{i}_{j}", seg(mw * prods[:, t][:, None]))
            for i in range(q):
                put(f"u{i}", seg(uw * a[:, i][:, None]))
            put("uu", seg(uw * np.nan_to_num(v)))
            yield pd.DataFrame(out)

    need = [outcome, *covariates, *rvs, subset_col]
    if group_col is not None:
        need.append(group_col)
    if weight_col is not None:
        need.append(weight_col)
    partial_df = select_positional(df, need).mapInPandas(partials, out_schema)
    reduced = (
        partial_df.groupBy("unit", "clust")
        .agg(*[F.sum(f"`{c}`").alias(c) for c in stat_cols])
        .collect()
    )
    by_unit: dict[str, dict[int, dict]] = {}
    for r in reduced:
        by_unit.setdefault(r["unit"], {})[int(r["clust"])] = r
    return by_unit, k, q, tri


def weighted_gaussian_suffstats_rows(
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
    vcov_method: str = "stata",
) -> list[dict]:
    """Weighted association rows (RESULT_SCHEMA keys) for continuous
    variables sharing ONE weight column (multi-weight designs call once
    per weight group). ``df`` is the data frame already joined with the
    design columns.

    ``vcov_method="jackknife"``: delete-1-cluster replicates are
    CLOSED-FORM on the per-cluster Grams — the replicate reweighting
    (zero cluster c, scale its stratum by nh/(nh-1)) is linear in the
    sufficient statistics, so
    ``G_rep = G + (f-1) G_stratum - f G_c`` (same for h) and one tiny
    solve per cluster reproduces the kernel's row-level replicate
    refits exactly. No second scan, no rows needed."""
    assert constants["has_cluster"], "cluster designs only"
    rvs = list(rvs)
    covariates = list(covariates)
    levels = {
        cv: [str(x) for x in levels_of(cv)]
        for cv in covariates
        if covar_types.get(cv) in (BINARY, CATEGORICAL)
    }
    clusters: list = list(constants["clusters"])
    nc = len(clusters)
    by_unit, k, q, tri = _grams_reduced(
        df,
        outcome,
        rvs,
        covariates,
        covar_types,
        levels,
        weight_col,
        weight_mean,
        clusters,
        clust_col,
        strat_col,
        clust_col,
        subset_col,
    )

    strat_for_clust = constants["strat_for_clust"]
    clust_per_strat = constants["clust_per_strat"]
    fpc_for_clust = constants.get("fpc_for_clust", {})
    single_cluster = constants["single_cluster"]
    has_strata = constants["has_strata"]

    rows: list[dict] = []
    zdim = k + 2  # [1, covars..., v]
    for rv in rvs:
        row = default_row(rv)
        rows.append(row)
        per_cl = by_unit.get(rv, {})
        if any(float(r["ndmiss"] or 0.0) > 0 for r in per_cl.values()):
            continue  # design missing rows -> error row (kernel parity)
        n_miss_w = sum(float(r["nwmiss"] or 0.0) for r in per_cl.values())
        label = weight_label
        if n_miss_w > 0:
            if constants.get("drop_unweighted"):
                label = f"{weight_label} ({int(n_miss_w)} observations are missing weights)"
            else:
                continue  # missing-weight error -> all-NaN row
        n_total = sum(float(r["n"] or 0.0) for r in per_cl.values())
        if n_total < min_n:
            continue
        row.update(Variable_type="continuous", Weight=label, N=int(n_total))

        # per-cluster weighted Grams for z = [1, covars..., v]
        gz_c = np.zeros((nc, zdim, zdim))
        hz_c = np.zeros((nc, zdim))
        for ci, r in per_cl.items():
            gq = np.zeros((q, q))
            for i, j in tri:
                gq[i, j] = gq[j, i] = float(r[f"g{i}_{j}"] or 0.0)
            u = np.array([float(r[f"u{i}"] or 0.0) for i in range(q)])
            uu = float(r["uu"] or 0.0)
            gz_c[ci, : k + 1, : k + 1] = gq[: k + 1, : k + 1]
            gz_c[ci, : k + 1, -1] = u[: k + 1]
            gz_c[ci, -1, : k + 1] = u[: k + 1]
            gz_c[ci, -1, -1] = uu
            hz_c[ci, : k + 1] = gq[: k + 1, -1]
            hz_c[ci, -1] = u[-1]
        g = gz_c.sum(axis=0)
        h = hz_c.sum(axis=0)

        # drop zero-variance design columns (non-varying covariates);
        # the weighted "variance" must divide by the weighted count
        # g[0,0] = sum(w), NOT the raw row count — subsample weights
        # don't average to 1 within a variable's complete cases
        w_tot = g[0, 0]
        keep = [0]
        for idx in range(1, k + 1):
            col_var = g[idx, idx] - (g[0, idx] ** 2 / w_tot if w_tot > 0 else 0.0)
            if col_var > 1e-12 * max(abs(g[idx, idx]), 1.0):
                keep.append(idx)
        keep.append(zdim - 1)
        gk = g[np.ix_(keep, keep)]
        hk = h[keep]
        try:
            beta = np.linalg.solve(gk, hk)
        except np.linalg.LinAlgError:
            beta, *_ = np.linalg.lstsq(gk, hk, rcond=None)

        gz_k = gz_c[np.ix_(range(nc), keep, keep)]
        hz_k = hz_c[:, keep]
        j_strat = np.asarray([strat_for_clust[c] for c in clusters], dtype=object)
        fh = np.sqrt(
            1.0 - np.asarray([fpc_for_clust.get(c, 0.0) for c in clusters], dtype=float)
        )
        if vcov_method == "jackknife":
            # closed-form replicates from per-cluster Grams (see docstring)
            g_s: dict = {}
            h_s: dict = {}
            for ci, s in enumerate(j_strat):
                g_s[s] = g_s.get(s, 0.0) + gz_k[ci]
                h_s[s] = h_s.get(s, 0.0) + hz_k[ci]
            nh_vec = np.asarray([clust_per_strat[s] for s in j_strat], dtype=float)
            reps = np.zeros((nc, len(keep)))
            for ci, s in enumerate(j_strat):
                nh_c = nh_vec[ci]
                f = nh_c / (nh_c - 1.0) if nh_c > 1.0 else 1.0
                g_rep = gk + (f - 1.0) * g_s[s] - f * gz_k[ci]
                h_rep = hk + (f - 1.0) * h_s[s] - f * hz_k[ci]
                try:
                    reps[ci] = np.linalg.solve(g_rep, h_rep)
                except np.linalg.LinAlgError:
                    reps[ci], *_ = np.linalg.lstsq(g_rep, h_rep, rcond=None)
            reps = reps - beta[None, :]
            with np.errstate(divide="ignore", invalid="ignore"):
                mh = np.sqrt((nh_vec - 1.0) / nh_vec)
            mh[~np.isfinite(mh)] = 1.0
            reps = reps * (mh * fh)[:, None]
            vcov = reps.T @ reps
        else:
            # sandwich: per-cluster score sums (zero rows for absent clusters)
            jdata = hz_k - np.einsum("cij,j->ci", gz_k, beta)
            if has_strata:
                pop_mean = jdata.sum(axis=0) / n_total
                jdata = _center_strata(jdata, j_strat, single_cluster, pop_mean)
                if single_cluster == "average":
                    # design-level stratum count, matching wglm.sandwich_vcov
                    # (reference survey_model.py:146-148 uses design.n_strat)
                    n_single = sum(1 for vv in clust_per_strat.values() if vv == 1)
                    n_strat = len(clust_per_strat)
                    jdata = jdata * np.sqrt(n_strat / (n_strat - n_single))
            nh = np.asarray([clust_per_strat[s] for s in j_strat], dtype=float)
            with np.errstate(divide="ignore", invalid="ignore"):
                mh = np.sqrt(nh / (nh - 1.0))
            mh[~np.isfinite(mh)] = 1.0
            jdata = jdata * (fh * mh)[:, None]
            a_inv = np.linalg.pinv(gk)
            vcov = a_inv @ (jdata.T @ jdata) @ a_inv.T
        se = float(np.sqrt(max(vcov[-1, -1], 0.0)))
        b = float(beta[-1])

        n_clust_fit = sum(1 for r in per_cl.values() if float(r["n"] or 0.0) > 0)
        n_strat_fit = len(
            {strat_for_clust[clusters[ci]] for ci, r in per_cl.items() if float(r["n"] or 0.0) > 0}
        )
        if has_strata:
            dof = n_clust_fit - n_strat_fit - (len(keep) - 1)
        else:
            dof = n_clust_fit - 1 - (len(keep) - 1)
        if dof < 1:
            row.update(Converged=True, Beta=b, SE=np.inf, Beta_pvalue=1.0, pvalue=1.0)
        else:
            p = 2.0 * float(t_sf(abs(b / se), dof))
            row.update(Converged=True, Beta=b, SE=se, Beta_pvalue=p, pvalue=p)
    return rows


def _score2_reduced(
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
):
    """Second scan for no-cluster sandwiches: per-(variable, group) sums
    of w^2 e^2 z z' with e = y - z'beta computed against the fitted
    coefficients (broadcast in the closure as full-z vectors, zeros in
    dropped slots). Only needed when clusters don't exist — per-cluster
    Grams already determine the cluster sandwich in one pass."""
    fit_rvs = [rv for rv in rvs if rv in betas]
    k = sum(len(levels[cv]) - 1 if cv in levels else 1 for cv in covariates)
    zdim = k + 2
    tri_z = [(i, j) for i in range(zdim) for j in range(i, zdim)]
    nc = len(groups)
    cl_index = {c: i for i, c in enumerate(groups)}
    stat_cols = [f"s{i}_{j}" for i, j in tri_z]
    out_schema = "unit string, clust int, " + ", ".join(f"`{c}` double" for c in stat_cols)
    cov_list, cov_types, lvs = covariates, dict(covar_types), levels
    beta_mat = np.vstack([betas[rv] for rv in fit_rvs])  # (#rvs, zdim)

    def partials(batches):
        from clarite_python_spark.functions.olsagg import _covariate_frame

        for pdf in batches:
            n_rows = len(pdf)
            if n_rows == 0:
                continue
            pdf = pdf.set_axis(need, axis=1)
            c_design, c_ok = _covariate_frame(pdf, cov_list, cov_types, lvs)
            y = pd.to_numeric(pdf[outcome]).to_numpy(dtype=float)
            base_ok = c_ok & ~np.isnan(y)
            zb = np.column_stack([np.ones(n_rows), c_design])  # [1, covars]
            zb = np.nan_to_num(zb)

            subset = pdf[subset_col]
            subset_ok = subset.fillna(False).to_numpy(dtype=bool)
            if weight_col is not None:
                w_raw = pd.to_numeric(pdf[weight_col]).to_numpy(dtype=float)
            else:
                w_raw = np.ones(n_rows)
            w_ok = ~np.isnan(w_raw)
            w_norm = np.nan_to_num(w_raw) / weight_mean

            # segment sums by group (see _grams_reduced: no dense
            # one-hot, only groups present in the batch are emitted)
            if group_col is None:
                cl_ok = np.ones(n_rows, dtype=bool)
                idx_all = np.zeros(n_rows, dtype=np.int64)
            else:
                cl = pdf[group_col].map(cl_index).to_numpy(dtype=float)
                cl_ok = ~np.isnan(cl)
                idx_all = np.where(cl_ok, np.nan_to_num(cl), -1).astype(np.int64)
            order = np.argsort(idx_all[cl_ok], kind="stable")
            sorted_idx = idx_all[cl_ok][order]
            uniq, starts = np.unique(sorted_idx, return_index=True)
            nu = len(uniq)
            if nu == 0:
                continue

            v = pdf[fit_rvs].to_numpy(dtype=float)
            v_ok = ~np.isnan(v)
            m = v_ok & (base_ok & subset_ok & w_ok & cl_ok)[:, None]
            vz = np.nan_to_num(v)

            out = {
                "unit": np.repeat(fit_rvs, nu),
                "clust": np.tile(uniq.astype(np.int64), len(fit_rvs)),
            }
            acc = np.zeros((len(fit_rvs), nu, len(tri_z)))
            for jv in range(len(fit_rvs)):
                b = beta_mat[jv]
                e = y - (zb @ b[:-1] + vz[:, jv] * b[-1])
                wgt = m[:, jv] * (w_norm**2) * np.nan_to_num(e) ** 2
                z = np.column_stack([zb, vz[:, jv]])
                rows_sq = wgt[:, None] * np.stack(
                    [z[:, i] * z[:, jj] for i, jj in tri_z], axis=1
                )
                acc[jv] = np.add.reduceat(rows_sq[cl_ok][order], starts, axis=0)
            for t, (i, jj) in enumerate(tri_z):
                out[f"s{i}_{jj}"] = acc[:, :, t].reshape(-1)
            yield pd.DataFrame(out)

    need = [outcome, *covariates, *fit_rvs, subset_col]
    if group_col is not None:
        need.append(group_col)
    if weight_col is not None:
        need.append(weight_col)
    partial_df = select_positional(df, need).mapInPandas(partials, out_schema)
    reduced = (
        partial_df.groupBy("unit", "clust")
        .agg(*[F.sum(f"`{c}`").alias(c) for c in stat_cols])
        .collect()
    )
    by_unit: dict[str, dict[int, dict]] = {}
    for r in reduced:
        by_unit.setdefault(r["unit"], {})[int(r["clust"])] = r
    return by_unit, tri_z


def weighted_gaussian_nocluster_rows(
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
    subset_col: str,
) -> list[dict]:
    """Weighted Gaussian association rows for NO-cluster designs
    (strata-only or weights-only): every observation is its own cluster
    (reference survey_design.py:195-198), so the sandwich needs
    per-observation score outer products — recovered in a SECOND scan of
    per-(variable, stratum) sums of w^2 e^2 z z' against the pass-1 fit.
    Stratum centering in closed form (n_full * m m'; 'adjust' single-row
    strata subtract the grand per-observation mean; 'average' rescales
    with full-design counts). Two scans total, both scan-bound."""
    rvs = list(rvs)
    covariates = list(covariates)
    has_strata = constants["has_strata"]
    single_cluster = constants["single_cluster"]
    rows_per_strat = constants["rows_per_strat"]
    fpc_map = constants.get("fpc_for_strat", {})
    levels = {
        cv: [str(x) for x in levels_of(cv)]
        for cv in covariates
        if covar_types.get(cv) in (BINARY, CATEGORICAL)
    }
    groups = list(rows_per_strat) if has_strata else ["__all__"]
    group_col = strat_col if has_strata else None
    nc = len(groups)
    by_unit, k, q, tri = _grams_reduced(
        df, outcome, rvs, covariates, covar_types, levels,
        weight_col, weight_mean, groups, group_col,
        strat_col, strat_col, subset_col,
    )

    zdim = k + 2
    rows: list[dict] = []
    fit_state: dict[str, dict] = {}
    betas_full: dict[str, np.ndarray] = {}
    for rv in rvs:
        row = default_row(rv)
        rows.append(row)
        per_g = by_unit.get(rv, {})
        if any(float(r["ndmiss"] or 0.0) > 0 for r in per_g.values()):
            continue
        n_miss_w = sum(float(r["nwmiss"] or 0.0) for r in per_g.values())
        label = weight_label
        if n_miss_w > 0:
            if constants.get("drop_unweighted"):
                label = f"{weight_label} ({int(n_miss_w)} observations are missing weights)"
            else:
                continue
        n_total = sum(float(r["n"] or 0.0) for r in per_g.values())
        if n_total < min_n:
            continue
        row.update(Variable_type="continuous", Weight=label, N=int(n_total))

        gz_c = np.zeros((nc, zdim, zdim))
        hz_c = np.zeros((nc, zdim))
        for ci, r in per_g.items():
            gq = np.zeros((q, q))
            for i, j in tri:
                gq[i, j] = gq[j, i] = float(r[f"g{i}_{j}"] or 0.0)
            u = np.array([float(r[f"u{i}"] or 0.0) for i in range(q)])
            uu = float(r["uu"] or 0.0)
            gz_c[ci, : k + 1, : k + 1] = gq[: k + 1, : k + 1]
            gz_c[ci, : k + 1, -1] = u[: k + 1]
            gz_c[ci, -1, : k + 1] = u[: k + 1]
            gz_c[ci, -1, -1] = uu
            hz_c[ci, : k + 1] = gq[: k + 1, -1]
            hz_c[ci, -1] = u[-1]
        g = gz_c.sum(axis=0)
        h = hz_c.sum(axis=0)
        w_tot = g[0, 0]
        keep = [0]
        for idx in range(1, k + 1):
            col_var = g[idx, idx] - (g[0, idx] ** 2 / w_tot if w_tot > 0 else 0.0)
            if col_var > 1e-12 * max(abs(g[idx, idx]), 1.0):
                keep.append(idx)
        keep.append(zdim - 1)
        gk = g[np.ix_(keep, keep)]
        hk = h[keep]
        try:
            beta = np.linalg.solve(gk, hk)
        except np.linalg.LinAlgError:
            beta, *_ = np.linalg.lstsq(gk, hk, rcond=None)
        beta_full = np.zeros(zdim)
        beta_full[keep] = beta
        betas_full[rv] = beta_full
        # per-stratum score sums J_s = h_s - G_s beta (zero rows for
        # strata absent from this variable's complete cases)
        jdata = hz_c[:, keep] - np.einsum(
            "cij,j->ci", gz_c[np.ix_(range(nc), keep, keep)], beta
        )
        n_obs_strat = {groups[ci]: float(r["n"] or 0.0) for ci, r in per_g.items()}
        fit_state[rv] = dict(
            row=row, keep=keep, gk=gk, jdata=jdata, n_total=n_total,
            n_strat_obs=sum(1 for v_ in n_obs_strat.values() if v_ > 0),
        )

    if not fit_state:
        return rows

    u_by_unit, tri_z = _score2_reduced(
        df, outcome, rvs, covariates, covar_types, levels, betas_full,
        weight_col, weight_mean, groups, group_col, subset_col,
    )

    for rv, st in fit_state.items():
        row, keep, gk = st["row"], st["keep"], st["gk"]
        n_total, jdata = st["n_total"], st["jdata"]
        per_u = u_by_unit.get(rv, {})
        p_k = len(keep)
        if single_cluster == "average" and has_strata:
            n_single = sum(1 for v_ in rows_per_strat.values() if v_ == 1)
            avg_scale = len(rows_per_strat) / (len(rows_per_strat) - n_single)
        else:
            avg_scale = 1.0
        v = np.zeros((p_k, p_k))
        if has_strata:
            pop_mean = jdata.sum(axis=0) / n_total
            for ci, s in enumerate(groups):
                n_full = float(rows_per_strat[s])
                s1 = jdata[ci]
                r = per_u.get(ci)
                u_full = np.zeros((zdim, zdim))
                if r is not None:
                    for i, j in tri_z:
                        u_full[i, j] = u_full[j, i] = float(r[f"s{i}_{j}"] or 0.0)
                u_k = u_full[np.ix_(keep, keep)]
                if n_full <= 1.0:
                    if single_cluster == "adjust":
                        d = s1 - pop_mean
                        contrib = np.outer(d, d)
                    else:
                        continue
                    mh2 = 1.0
                else:
                    m = s1 / n_full
                    contrib = u_k - n_full * np.outer(m, m)
                    mh2 = n_full / (n_full - 1.0)
                v += contrib * mh2 * (1.0 - float(fpc_map.get(s, 0.0)))
            v *= avg_scale
        else:
            n_full = float(rows_per_strat["__all__"])
            r = per_u.get(0)
            u_full = np.zeros((zdim, zdim))
            if r is not None:
                for i, j in tri_z:
                    u_full[i, j] = u_full[j, i] = float(r[f"s{i}_{j}"] or 0.0)
            scale = n_full / (n_full - 1.0) if n_full > 1 else 1.0
            v = u_full[np.ix_(keep, keep)] * scale * (1.0 - float(fpc_map.get("__all__", 0.0)))

        a_inv = np.linalg.pinv(gk)
        vcov = a_inv @ v @ a_inv.T
        se = float(np.sqrt(max(vcov[-1, -1], 0.0)))
        b = float(betas_full[rv][-1])
        if has_strata:
            dof = n_total - st["n_strat_obs"] - (p_k - 1)
        else:
            dof = n_total - p_k - 1
        if dof < 1:
            row.update(Converged=True, Beta=b, SE=np.inf, Beta_pvalue=1.0, pvalue=1.0)
        else:
            p = 2.0 * float(t_sf(abs(b / se), dof))
            row.update(Converged=True, Beta=b, SE=se, Beta_pvalue=p, pvalue=p)
    return rows
