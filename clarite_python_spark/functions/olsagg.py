"""Sufficient-statistics OLS: Gaussian fits as one vectorized pass
(no shuffle of data rows, no per-variable Python groups).

For a Gaussian outcome every fit here is ordinary least squares, so all
a fit needs is masked sums of products. The engine works on "units" —
a unit is one independent regression with one or more member columns:

- association study: unit = one continuous variable v, members [v];
- interaction study: unit = a continuous pair (a, b), members
  [a, b, a*b] — the restricted (no-interaction) model is a sub-block of
  the same Gram matrix, so the LRT costs nothing extra.

With A = [1, covariates..., outcome] and, per unit u with mask m_u
(= all members + outcome + covariates non-null):

    G_u  = sum(m_u * A ⊗ A)          (masked Gram of A)
    UA_u = sum(members_u ⊗ A)        (member cross-products)
    UU_u = sum(members_u ⊗ members_u)
    n_u  = sum(m_u)

Execution: ``mapInPandas`` over the WIDE table — each Arrow batch
computes partials for ALL units with a handful of BLAS matmuls and
emits |units| tiny rows; a groupBy-sum reduction collects to the driver,
which solves each unit's normal equations and produces Wald t / LRT
statistics.

Why not the grouped pandas kernel: it ships every data row through a
shuffle into Python workers and fits one variable at a time there
(measured ~18 fits/s at the reference's canonical 22.6k x 970 EWAS,
when it shipped one row per (row, unit); this path measures ~123/s).
Why not aggregate expressions: |units| x ~20 masked-sum expressions blow
up Catalyst codegen superlinearly (measured 64 s for one 128-variable
chunk). Numerics match the numpy kernels (same normal equations).
"""

from __future__ import annotations

from typing import Callable, Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from clarite_python_spark.catalog import BINARY, CATEGORICAL, qcol, select_positional
from clarite_python_spark.functions.distributions import chi2_sf, t_sf

__all__ = ["gaussian_assoc_rows", "gaussian_interaction_rows"]


def _covariate_frame(
    pdf: pd.DataFrame,
    covariates: Sequence[str],
    covar_types: dict[str, str],
    levels: dict[str, list],
) -> tuple[np.ndarray, np.ndarray]:
    """(n x k) numeric covariate design + complete-covariate row mask.
    Categorical covariates treatment-coded against GLOBAL sorted levels
    (per-unit empty levels surface as zero-variance columns, dropped at
    solve time — the same design the reference builds after
    _remove_empty_categories)."""
    cols = []
    ok = np.ones(len(pdf), dtype=bool)
    for cv in covariates:
        vals = pdf[cv]
        ok &= vals.notna().to_numpy()
        if covar_types.get(cv) in (BINARY, CATEGORICAL):
            # match levels numerically when they parse: an int column with
            # nulls arrives as float64 ("1.0") while the catalog level is
            # the int ("1") — string equality would silently zero the dummy
            num = pd.to_numeric(vals, errors="coerce")
            s = vals.astype("string")
            for lv in levels[cv][1:]:
                try:
                    match = (num == float(lv)).to_numpy()
                except (TypeError, ValueError):
                    match = (s == str(lv)).to_numpy()
                cols.append(match.astype(float))
        else:
            cols.append(pd.to_numeric(vals).to_numpy(dtype=float))
    k = len(cols)
    design = np.column_stack(cols) if k else np.empty((len(pdf), 0))
    return design, ok


class _UnitStats:
    """Collected sufficient statistics for one unit."""

    __slots__ = ("n", "gq", "ua", "uu")

    def __init__(self, n, gq, ua, uu):
        self.n = n
        self.gq = gq  # (q x q) masked Gram of A = [1, covars, y]
        self.ua = ua  # (nm x q) member x A sums
        self.uu = uu  # (nm x nm) member x member sums


def _collect_unit_stats(
    df: DataFrame,
    outcome: str,
    units: Sequence[tuple[str, list[str]]],
    covariates: Sequence[str],
    covar_types: dict[str, str],
    levels_of: Callable[[str], list],
) -> tuple[dict[str, _UnitStats], int]:
    """One mapInPandas pass computing every unit's sufficient statistics.
    Units may have DIFFERENT member counts (a continuous variable is a
    1-member unit; a categorical variable's treatment dummies form one
    unit of ``#levels - 1`` members): members are laid out FLAT, so the
    per-batch matmuls spend no FLOPs on padding — the rectangular
    (p x nm) stat layout exists only in the tiny partial rows,
    zero-filled for absent slots. Returns ({unit: stats}, k)."""
    units = list(units)
    covariates = list(covariates)
    nm_of = [len(ms) for _, ms in units]
    nm = max(nm_of)
    levels = {
        cv: [str(x) for x in levels_of(cv)]
        for cv in covariates
        if covar_types.get(cv) in (BINARY, CATEGORICAL)
    }
    k = sum(len(levels[cv]) - 1 if cv in levels else 1 for cv in covariates)
    q = k + 2  # A = [1, covars..., y]
    tri = [(i, j) for i in range(q) for j in range(i, q)]
    mm_tri = [(i, j) for i in range(nm) for j in range(i, nm)]

    member_cols = sorted({c for _, ms in units for c in ms})
    col_pos = {c: i for i, c in enumerate(member_cols)}
    unit_names = [u for u, _ in units]
    p = len(units)
    # flat member layout: one entry per (unit, slot)
    flat_col = np.array([col_pos[c] for _, ms in units for c in ms], dtype=int)
    flat_unit = np.repeat(np.arange(p), nm_of)
    flat_slot = np.concatenate([np.arange(w) for w in nm_of])
    seg_starts = np.concatenate([[0], np.cumsum(nm_of)[:-1]])
    # within-unit member pairs, as flat indices
    pair_a: list[int] = []
    pair_b: list[int] = []
    pair_slots: list[tuple[int, int, int]] = []  # (unit, i, j)
    for u in range(p):
        s = int(seg_starts[u])
        for i in range(nm_of[u]):
            for j in range(i, nm_of[u]):
                pair_a.append(s + i)
                pair_b.append(s + j)
                pair_slots.append((u, i, j))
    pair_a_arr = np.asarray(pair_a, dtype=int)
    pair_b_arr = np.asarray(pair_b, dtype=int)

    stat_cols = (
        ["n"]
        + [f"g{i}_{j}" for i, j in tri]
        + [f"ua{a}_{i}" for a in range(nm) for i in range(q)]
        + [f"uu{a}_{b}" for a, b in mm_tri]
    )
    out_schema = "unit string, " + ", ".join(f"`{c}` double" for c in stat_cols)

    cov_list, cov_types, lv, outcome_col = covariates, dict(covar_types), levels, outcome

    need = [outcome, *covariates, *member_cols]

    def partials(batches):
        for pdf in batches:
            n_rows = len(pdf)
            if n_rows == 0:
                continue
            pdf = pdf.set_axis(need, axis=1)
            c_design, c_ok = _covariate_frame(pdf, cov_list, cov_types, lv)
            y = pd.to_numeric(pdf[outcome_col]).to_numpy(dtype=float)
            base_ok = c_ok & ~np.isnan(y)
            a = np.column_stack([np.ones(n_rows), c_design, np.nan_to_num(y)])
            a[~base_ok] = 0.0
            vals = pdf[member_cols].to_numpy(dtype=float)
            vf = vals[:, flat_col]  # n x total_members
            okf = ~np.isnan(vf)
            # unit mask = AND over its member segment + base mask
            m = np.bitwise_and.reduceat(okf, seg_starts, axis=1) & base_ok[:, None]
            mf = m.astype(float)
            vfm = np.nan_to_num(vf) * mf[:, flat_unit]
            prods = np.stack([a[:, i] * a[:, j] for i, j in tri], axis=1)
            g = mf.T @ prods  # p x |tri|
            ua_flat = vfm.T @ a  # total_members x q — one matmul, no padding
            uu_flat = np.einsum("nf,nf->f", vfm[:, pair_a_arr], vfm[:, pair_b_arr])
            out = {"unit": unit_names, "n": mf.sum(axis=0)}
            for t, (i, j) in enumerate(tri):
                out[f"g{i}_{j}"] = g[:, t]
            rect_ua = np.zeros((p, nm, q))
            rect_ua[flat_unit, flat_slot] = ua_flat
            for am in range(nm):
                for i in range(q):
                    out[f"ua{am}_{i}"] = rect_ua[:, am, i]
            rect_uu = np.zeros((p, nm, nm))
            for t, (u, i, j) in enumerate(pair_slots):
                rect_uu[u, i, j] = uu_flat[t]
            for am, bm in mm_tri:
                out[f"uu{am}_{bm}"] = rect_uu[:, am, bm]
            yield pd.DataFrame(out)

    partial_df = select_positional(df, need).mapInPandas(partials, out_schema)
    reduced = (
        partial_df.groupBy("unit")
        .agg(*[F.sum(f"`{c}`").alias(c) for c in stat_cols])
        .collect()
    )
    out: dict[str, _UnitStats] = {}
    for r in reduced:
        gq = np.zeros((q, q))
        for i, j in tri:
            gq[i, j] = gq[j, i] = float(r[f"g{i}_{j}"] or 0.0)
        ua = np.array(
            [[float(r[f"ua{a}_{i}"] or 0.0) for i in range(q)] for a in range(nm)]
        )
        uu = np.zeros((nm, nm))
        for a_, b_ in mm_tri:
            uu[a_, b_] = uu[b_, a_] = float(r[f"uu{a_}_{b_}"] or 0.0)
        out[r["unit"]] = _UnitStats(float(r["n"] or 0.0), gq, ua, uu)
    return out, k


def _solve_ols(
    st: _UnitStats, k: int, member_sel: list[int]
) -> dict | None:
    """Solve the unit's normal equations using the selected members as
    the trailing design columns. Returns fit summary or None if
    df_resid <= 0. Zero-variance covariate columns are dropped (the
    reference ignores non-varying covariates per fit)."""
    n = st.n
    q = k + 2
    nm_sel = len(member_sel)
    zdim = k + 1 + nm_sel
    g = np.zeros((zdim, zdim))
    h = np.zeros(zdim)
    g[: k + 1, : k + 1] = st.gq[: k + 1, : k + 1]
    for si, am in enumerate(member_sel):
        g[: k + 1, k + 1 + si] = st.ua[am, : k + 1]
        g[k + 1 + si, : k + 1] = st.ua[am, : k + 1]
        h[k + 1 + si] = st.ua[am, q - 1]
        for sj, bm in enumerate(member_sel):
            g[k + 1 + si, k + 1 + sj] = st.uu[am, bm]
    h[: k + 1] = st.gq[: k + 1, q - 1]
    yy = st.gq[q - 1, q - 1]

    keep = [0]
    for idx in range(1, k + 1):
        col_var = g[idx, idx] - g[0, idx] ** 2 / n
        if col_var > 1e-12 * max(abs(g[idx, idx]), 1.0):
            keep.append(idx)
    keep.extend(range(k + 1, zdim))

    gk = g[np.ix_(keep, keep)]
    hk = h[keep]
    beta, *_ = np.linalg.lstsq(gk, hk, rcond=None)
    rank = np.linalg.matrix_rank(gk)
    df_resid = n - rank
    if df_resid <= 0:
        return None
    ssr = max(float(yy - 2.0 * beta @ hk + beta @ gk @ beta), 0.0)
    scale = ssr / df_resid
    cov = scale * np.linalg.pinv(gk)
    se = np.sqrt(np.clip(np.diag(cov), 0, None))
    with np.errstate(divide="ignore", invalid="ignore"):
        tvals = beta / se
    pvals = 2.0 * np.asarray(t_sf(np.abs(tvals), df_resid), dtype=float)
    # statsmodels-convention profiled Gaussian llf / aic
    if scale > 0:
        llf = -0.5 * (ssr / scale + n * np.log(2.0 * np.pi * scale))
    else:
        llf = np.nan
    aic = -2.0 * llf + 2.0 * len(keep)
    member_stats = []
    base = len(keep) - nm_sel
    for si in range(nm_sel):
        i = base + si
        member_stats.append((float(beta[i]), float(se[i]), float(pvals[i])))
    return {
        "df_resid": float(df_resid),
        "llf": float(llf),
        "aic": float(aic),
        "members": member_stats,
    }


def gaussian_interaction_rows(
    df: DataFrame,
    outcome: str,
    pairs: Sequence[tuple[str, str]],
    covariates: Sequence[str],
    covar_types: dict[str, str],
    levels_of: Callable[[str], list],
    min_n: int,
    report_betas: bool,
    default_row: Callable[[str, str], dict],
) -> list[dict]:
    """Interaction-study rows (INTERACTION_SCHEMA keys) for
    continuous x continuous pairs against a Gaussian outcome.

    Unit members are [a, b, a*b]; the restricted model reuses the same
    Gram with the product column dropped, so full + restricted + LRT all
    come from ONE scan. This is the scale path for pairwise epistasis:
    the grouped kernel multiplies rows by C(p,2), this multiplies only
    the per-batch matmul width."""
    prod_names = {}
    work = df
    for i, (a, b) in enumerate(pairs):
        pn = f"__px{i}"
        prod_names[(a, b)] = pn
        work = work.withColumn(
            pn, qcol(a).cast("double") * qcol(b).cast("double")
        )
    units = [
        (f"{a}\x00{b}", [a, b, prod_names[(a, b)]]) for a, b in pairs
    ]
    stats, k = _collect_unit_stats(
        work, outcome, units, covariates, covar_types, levels_of
    )
    rows: list[dict] = []
    for a, b in pairs:
        st = stats.get(f"{a}\x00{b}")
        if st is None or st.n < min_n:
            row = default_row(a, b)
            row["Log"] = (
                f"too few complete observations ({0 if st is None else int(st.n)} < {min_n})"
            )
            rows.append(row)
            continue
        full = _solve_ols(st, k, [0, 1, 2])
        restricted = _solve_ols(st, k, [0, 1])
        if full is None or restricted is None:
            row = default_row(a, b)
            row.update(N=int(st.n))
            rows.append(row)
            continue
        lrdf = restricted["df_resid"] - full["df_resid"]
        lrstat = -2.0 * (restricted["llf"] - full["llf"])
        if lrdf == 0 and lrstat == 0:
            row = default_row(a, b)
            row.update(
                Converged=True, N=int(st.n), Log="Both models are equivalent in terms of fit"
            )
            rows.append(row)
            continue
        lr_p = float(chi2_sf(lrstat, lrdf)) if lrdf > 0 else float("nan")
        if report_betas:
            row = default_row(a, b)
            row.update(
                Parameter=f"{a}:{b}",
                Converged=True,
                N=int(st.n),
                LRT_pvalue=lr_p,
                Red_Var1_beta=restricted["members"][0][0],
                Red_Var1_SE=restricted["members"][0][1],
                Red_Var1_Pval=restricted["members"][0][2],
                Red_Var2_beta=restricted["members"][1][0],
                Red_Var2_SE=restricted["members"][1][1],
                Red_Var2_Pval=restricted["members"][1][2],
                Full_Var1_Var2_beta=full["members"][2][0],
                Full_Var1_Var2_SE=full["members"][2][1],
                Full_Var1_Var2_Pval=full["members"][2][2],
                Full_Var1_beta=full["members"][0][0],
                Full_Var1_SE=full["members"][0][1],
                Full_Var1_Pval=full["members"][0][2],
                Full_Var2_beta=full["members"][1][0],
                Full_Var2_SE=full["members"][1][1],
                Full_Var2_Pval=full["members"][1][2],
            )
            rows.append(row)
        else:
            row = default_row(a, b)
            row.update(Converged=True, N=int(st.n), LRT_pvalue=lr_p)
            rows.append(row)
    return rows


def _kernel_sorted_levels(raw: Sequence) -> list:
    """Order levels the way the grouped kernel does on its string values
    (numeric when every value parses as a number, else lexical,
    analyze._sorted_levels) — applied to the RAW values so dummy
    comparisons stay in the column's native type."""
    vals = list(raw)
    try:
        return sorted(vals, key=lambda x: float(str(x)))
    except (TypeError, ValueError):
        return sorted(vals, key=str)




def gaussian_assoc_rows(
    df: DataFrame,
    outcome: str,
    cont_rvs: Sequence[str],
    enc_rvs: Sequence[str],
    rv_types: dict[str, str],
    covariates: Sequence[str],
    covar_types: dict[str, str],
    levels_of: Callable[[str], list],
    min_n: int,
    report_categorical_betas: bool,
    default_row: Callable[[str], dict],
) -> tuple[list[dict], list[str]]:
    """Association-study rows (RESULT_SCHEMA keys) for a Gaussian outcome
    in ONE scan: continuous variables are 1-member units (Wald t on the
    member), binary/categorical variables are units whose members are
    treatment dummies vs the first kernel-sorted catalog level
    (null-propagating column expressions — Catalyst projections, no
    extra pass). Categorical LRT = full vs the ``member_sel=[]``
    restricted fit of the same Gram.

    The grouped kernel derives levels from each variable's COMPLETE
    CASES; this path uses the global catalog levels. When they disagree
    (a level entirely confined to incomplete rows: its dummy count — or
    the base count — is zero) the parametrization would differ, so such
    variables are returned in ``fallback`` for the kernel fan-out
    (reference drops empty categories per fit, glm_regression.py:510-520).

    Returns (rows, fallback_variable_names).
    """
    cont_rvs = list(cont_rvs)
    enc_rvs = list(enc_rvs)
    fallback: list[str] = []
    rows: list[dict] = []
    lv_of: dict[str, list] = {}
    for rv in enc_rvs:
        lvs = _kernel_sorted_levels(levels_of(rv))
        if len(lvs) < 2:
            fallback.append(rv)  # constant/degenerate: kernel semantics
        else:
            lv_of[rv] = lvs
    enc_todo = [rv for rv in enc_rvs if rv in lv_of]
    if not cont_rvs and not enc_todo:
        return [], fallback

    units: list[tuple[str, list[str]]] = [(rv, [rv]) for rv in cont_rvs]
    exprs = []
    for i, rv in enumerate(enc_todo):
        mems = []
        for j, lv in enumerate(lv_of[rv][1:]):
            dc = f"__d{i}_{j}"
            exprs.append(
                F.when(qcol(rv).isNull(), F.lit(None).cast("double"))
                .otherwise((qcol(rv) == F.lit(lv)).cast("double"))
                .alias(dc)
            )
            mems.append(dc)
        units.append((rv, mems))
    work = df.select("*", *exprs) if exprs else df

    stats, k = _collect_unit_stats(
        work, outcome, units, covariates, covar_types, levels_of
    )

    for rv in cont_rvs:
        row = default_row(rv)
        rows.append(row)
        st = stats.get(rv)
        if st is None or st.n < min_n:
            continue  # reference: min_n failure keeps the all-NaN row
        row["Variable_type"] = "continuous"
        row["N"] = int(st.n)
        fit = _solve_ols(st, k, [0])
        if fit is None:
            continue
        b, se, p = fit["members"][0]
        row.update(Converged=True, Beta=b, SE=se, Beta_pvalue=p, pvalue=p)

    for rv in enc_todo:
        st = stats.get(rv)
        real_nm = len(lv_of[rv]) - 1
        if st is None or st.n < min_n:
            rows.append(default_row(rv))  # min_n gate -> all-NaN row
            continue
        cnts = [st.uu[a, a] for a in range(real_nm)]
        base = st.n - sum(cnts)
        if base <= 0 or any(c <= 0 for c in cnts):
            fallback.append(rv)  # complete-case level set != catalog's
            continue
        n = int(st.n)
        vtype = rv_types[rv]
        if vtype == BINARY:
            row = default_row(rv)
            row.update(Variable_type=vtype, N=n)
            fit = _solve_ols(st, k, [0])
            if fit is not None:
                b, se, p = fit["members"][0]
                row.update(Converged=True, Beta=b, SE=se, Beta_pvalue=p, pvalue=p)
            rows.append(row)
            continue
        full = _solve_ols(st, k, list(range(real_nm)))
        restricted = _solve_ols(st, k, [])
        if full is None or restricted is None:
            row = default_row(rv)
            row.update(Variable_type=vtype, N=n)
            rows.append(row)
            continue
        lrdf = restricted["df_resid"] - full["df_resid"]
        lrstat = -2.0 * (restricted["llf"] - full["llf"])
        lr_p = float(chi2_sf(lrstat, lrdf)) if lrdf > 0 else float("nan")
        diff_aic = full["aic"] - restricted["aic"]
        if report_categorical_betas:
            for a, lv in enumerate(lv_of[rv][1:]):
                b, se, p = full["members"][a]
                row = default_row(rv)
                row.update(
                    Variable_type=vtype,
                    N=n,
                    Converged=True,
                    Category=f"{rv}[T.{lv}]",
                    Beta=b,
                    SE=se,
                    Beta_pvalue=p,
                    LRT_pvalue=lr_p,
                    Diff_AIC=diff_aic,
                    pvalue=lr_p,
                )
                rows.append(row)
        else:
            row = default_row(rv)
            row.update(
                Variable_type=vtype,
                N=n,
                Converged=True,
                LRT_pvalue=lr_p,
                Diff_AIC=diff_aic,
                pvalue=lr_p,
            )
            rows.append(row)
    return rows, fallback
