"""Contingency-table sufficient statistics for the binomial fan-out.

The grouped kernel shuffles every (row, variable) pair to a Python
worker — O(n_rows x n_vars) shuffled rows. But a logistic fit only sees
the data through the distinct (rv value, covariate values, outcome)
cells: when those are few (GWAS genotypes are 3 values; binary /
categorical EWAS variables likewise), the whole fan-out collapses to ONE
count aggregation. The unpivot stays in whole-stage codegen, the partial
(map-side) aggregation collapses each partition to ~|cells| rows per
variable, and the shuffle carries O(n_vars x |cells|) tiny rows instead
of the data. Per-variable frequency-weighted IRLS then runs driver-side
on the collected cells (microseconds each) via
:func:`clarite_python_spark.functions.glm.fit_binomial_freq`, which
reproduces the row-level kernel's iterates exactly.

This is the binomial analog of the Gaussian sufficient-stats path
(functions/olsagg.py) and the designed scale story for case/control
GWAS (reference tests/analyze/test_gwas.py simulates exactly this
shape): 10^10 rows x 10^6 variants stays scan-bound.

Eligibility (everything else falls back to the grouped kernel):
- all covariates BINARY/CATEGORICAL (a continuous covariate breaks the
  cell collapse);
- the variable's value domain is small (approx_count_distinct gate —
  HyperLogLog, so ONE agg job with no Expand — re-checked exactly
  against the collected cells);
- total cells per variable bounded by ``max_cells``.

Reference parity: the per-variable flow mirrors _make_assoc_block_kernel
(analyze.py) / reference glm_regression.py:450-565 — complete-case
cells, min_n gate, non-varying covariates dropped, treatment coding on
complete-case sorted levels, Wald z for continuous/binary, LRT +
Diff_AIC for categorical.
"""

from __future__ import annotations

from collections import defaultdict
from typing import Callable, Sequence

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from clarite_python_spark.catalog import BINARY, CATEGORICAL, CONTINUOUS, qcol, qname
from clarite_python_spark.functions.distributions import chi2_sf
from clarite_python_spark.functions.glm import dummy_encode, fit_binomial_freq

__all__ = ["binomial_contingency_rows"]


def _sorted_levels(values: list) -> list:
    try:
        return sorted(values, key=float)
    except (TypeError, ValueError):
        return sorted(values)


def _fit_one_from_cells(
    rv: str,
    vtype: str,
    cells: list,
    outcome: str,
    covariates: Sequence[str],
    covar_types: dict,
    min_n: int,
    report_categorical_betas: bool,
    default_row: Callable[[str], dict],
    max_cells: int,
) -> list[dict] | None:
    """Fit one variable from its contingency cells; None => caller must
    fall back to the grouped kernel (cell blowup past the gate)."""
    comp = [
        r
        for r in cells
        if r["value"] is not None
        and r[outcome] is not None
        and all(r[c] is not None for c in covariates)
    ]
    if len(comp) > max_cells:
        return None
    try:
        n_complete = int(sum(r["__n"] for r in comp))
        if n_complete < min_n:
            raise ValueError(f"too few complete observations ({n_complete} < {min_n})")
        y = np.asarray([float(r[outcome]) for r in comp])
        w = np.asarray([float(r["__n"]) for r in comp])
        n_cells = len(comp)
        # intercept + covariates (mirror _design_matrix: drop non-varying,
        # treatment-code against complete-case sorted levels)
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

        if vtype == CONTINUOUS:
            x = np.asarray([float(r["value"]) for r in comp])[:, None]
            X = np.hstack([Xr, x])
            res = fit_binomial_freq(X, y, w, names_r + [rv])
            row = default_row(rv)
            row.update(Variable_type=vtype, N=n_complete)
            if res.converged:
                b, s, p = res.by_name()[rv]
                row.update(Converged=True, Beta=b, SE=s, Beta_pvalue=p, pvalue=p)
            return [row]
        # BINARY / CATEGORICAL: values rode the unpivot as strings
        vals = [r["value"] for r in comp]
        levels = _sorted_levels(list(dict.fromkeys(vals)))
        mat, nm = dummy_encode(np.asarray(vals, dtype=object), levels, rv)
        X = np.hstack([Xr, mat])
        res = fit_binomial_freq(X, y, w, names_r + nm)
        if vtype == BINARY:
            row = default_row(rv)
            row.update(Variable_type=vtype, N=n_complete)
            if res.converged and nm:
                b, s, p = res.by_name()[nm[0]]
                row.update(Converged=True, Beta=b, SE=s, Beta_pvalue=p, pvalue=p)
            return [row]
        res_r = fit_binomial_freq(Xr, y, w, names_r)
        rows: list[dict] = []
        if res.converged and res_r.converged:
            lrdf = res_r.df_resid - res.df_resid
            lrstat = -2.0 * (res_r.llf - res.llf)
            lr_p = float(chi2_sf(lrstat, lrdf)) if lrdf > 0 else np.nan
            diff_aic = res.aic - res_r.aic
            if report_categorical_betas:
                by = res.by_name()
                for param in nm:
                    b, s, p = by[param]
                    row = default_row(rv)
                    row.update(
                        Variable_type=vtype,
                        N=n_complete,
                        Converged=True,
                        Category=param,
                        Beta=b,
                        SE=s,
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
                    N=n_complete,
                    Converged=True,
                    LRT_pvalue=lr_p,
                    Diff_AIC=diff_aic,
                    pvalue=lr_p,
                )
                rows.append(row)
        else:
            row = default_row(rv)
            row.update(Variable_type=vtype, N=n_complete)
            rows.append(row)
        return rows
    except Exception:
        return [default_row(rv)]


def binomial_contingency_rows(
    df: DataFrame,
    outcome: str,
    group: list[str],
    rv_types: dict,
    covariates: list[str],
    covar_types: dict,
    min_n: int,
    report_categorical_betas: bool,
    default_row: Callable[[str], dict],
    max_rv_levels: int = 16,
    max_cells: int = 256,
    known_small: frozenset | set = frozenset(),
) -> tuple[list[dict], list[str]]:
    """Fit every eligible variable from contingency counts.

    Returns (result rows, variables that must still go through the
    grouped kernel). Spark cost: one HLL gate agg (skipped entirely for
    ``known_small`` columns — e.g. encoded genotypes, whose domain is
    <=3 by construction) + one unpivot->count aggregation whose shuffle
    is O(#eligible x cells)."""
    if not group or any(
        covar_types.get(c) not in (BINARY, CATEGORICAL) for c in covariates
    ):
        return [], group
    unknown = [v for v in group if v not in known_small]
    nlev: dict[str, int] = {v: 3 for v in group if v in known_small}
    if unknown or covariates:
        # one selectExpr parse instead of 3-4 py4j round trips per
        # column (r13 construction-cost idiom); identical HLL agg
        gate = df.selectExpr(
            *[
                f"approx_count_distinct({qname(v)}) AS {qname('v::' + v)}"
                for v in unknown
            ],
            *[
                f"approx_count_distinct({qname(c)}) AS {qname('c::' + c)}"
                for c in covariates
            ],
        ).collect()[0]
        nlev.update({v: int(gate[f"v::{v}"]) for v in unknown})
        cov_lev = {c: max(int(gate[f"c::{c}"]), 1) for c in covariates}
    else:
        cov_lev = {}
    combos = 2.0  # outcome levels
    for c in covariates:
        combos *= cov_lev[c]
    # HLL rsd ~2-5%: pad the gate, re-check exactly from the cells below
    eligible = [
        v
        for v in group
        if nlev[v] <= max_rv_levels * 1.5 and nlev[v] * combos * 1.5 <= max_cells
    ]
    if not eligible:
        return [], group
    remaining = [v for v in group if v not in set(eligible)]

    id_vars = [outcome, *covariates]
    # the string cast exists only to unify mixed value types for the
    # unpivot; an additive/dominant/recessive-encoded GWAS panel is all
    # DOUBLE already — unpivot natively and skip rows x vars string
    # conversions (measured ~1.5x on the 10k x 1k contingency scan)
    dtypes = dict(df.dtypes)
    native = all(rv_types[v] == CONTINUOUS for v in eligible) and len(
        {dtypes.get(v) for v in eligible}
    ) == 1
    # rendered as ONE selectExpr parse (the r13 construction-cost idiom):
    # the Column-API build paid 2-3 py4j round trips per variable —
    # ~2.5 s of construction at GWAS width (measured, 1,000 SNPs).
    # Identical projection: backtick-quoted literal names (qcol
    # semantics), same CAST, same output names; the unpivot's values
    # default to every non-id column, i.e. exactly ``eligible``.
    val_exprs = (
        [qname(v) for v in eligible]
        if native
        else [f"CAST({qname(v)} AS STRING) AS {qname(v)}" for v in eligible]
    )
    long = df.selectExpr(*[qname(c) for c in id_vars], *val_exprs).unpivot(
        [qcol(c) for c in id_vars], None, "variable", "value"
    )
    cells = (
        long.groupBy("variable", "value", outcome, *covariates)
        .agg(F.count(F.lit(1)).alias("__n"))
        .collect()
    )
    by_var: dict[str, list] = defaultdict(list)
    for r in cells:
        by_var[r["variable"]].append(r)

    rows: list[dict] = []
    for rv in eligible:
        out = _fit_one_from_cells(
            rv,
            rv_types[rv],
            by_var.get(rv, []),
            outcome,
            covariates,
            covar_types,
            min_n,
            report_categorical_betas,
            default_row,
            max_cells,
        )
        if out is None:
            remaining.append(rv)
        else:
            rows.extend(out)
    return rows, remaining
