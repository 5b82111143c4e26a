"""Columnar (100-TB) execution strategy for the association study.

The default grouped strategy ships rows in variable blocks to
``groupBy(block).applyInPandas`` — each block's group is the FULL row
count x <=64 values, which breaks past ~10^7 rows (one Python worker
must hold it; SURVEY.md §7 risk #4). This
module keeps the same result schema but fits each variable with
``pyspark.ml.regression.GeneralizedLinearRegression`` — a distributed
JVM-side IRLS over a column-sliced DataFrame — so no executor ever
materializes a whole variable, and a 10^10-row fit parallelizes across
the cluster.

Scheduling: the N per-variable fits are independent Spark jobs submitted
from a driver thread pool (reference note: the per-variable independence
IS the designed parallelism, glm_regression.py:419-433); the pool keeps
the cluster saturated while bounding concurrent job overhead.

Parity: both strategies solve the same GLM; the Wald/LRT math here uses
the ML summary's coefficient table (IRLS, t-statistics for Gaussian, z
for Binomial — matching the reference's use_t choice) and deviances.
``tests/test_columnar.py`` asserts grouped == columnar at tight rtol.
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor
from typing import Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from clarite_python_spark.catalog import BINARY, CATEGORICAL, CONTINUOUS, qcol
from clarite_python_spark.functions.distributions import chi2_sf, norm_sf, t_sf

__all__ = ["columnar_association_study"]


def _dummy_cols(
    df: DataFrame, col: str, levels: list, prefix: str
) -> tuple[DataFrame, list[str]]:
    """Treatment-code a categorical column against sorted levels as JVM
    expressions (reference level = first sorted level). Column names are
    sanitized internals (``__x<i>``) because VectorAssembler cannot
    reference names containing dots."""
    names = []
    for i, lv in enumerate(levels[1:]):
        name = f"__{prefix}_{i}"
        df = df.withColumn(
            name, (qcol(col).cast("string") == F.lit(str(lv))).cast("double")
        )
        names.append(name)
    return df, names


def _fit_ml_glm(sub: DataFrame, feature_cols: list[str], outcome: str, family: str):
    """One distributed GLM fit; returns (summary, model, n, p)."""
    from pyspark.ml.feature import VectorAssembler
    from pyspark.ml.regression import GeneralizedLinearRegression

    assembled = VectorAssembler(inputCols=feature_cols, outputCol="__features").transform(sub)
    glr = GeneralizedLinearRegression(
        family="gaussian" if family == "gaussian" else "binomial",
        link="identity" if family == "gaussian" else "logit",
        featuresCol="__features",
        labelCol=outcome,
        regParam=0.0,
        maxIter=100,
        tol=1e-10,
    )
    model = glr.fit(assembled)
    return model.summary, model


def _sort_levels(levels: list[str]) -> list[str]:
    try:
        return sorted(levels, key=float)
    except (TypeError, ValueError):
        return sorted(levels)


def _prefetch_fit_stats(
    df: DataFrame,
    rvs: Sequence[str],
    rv_types: dict[str, str],
    outcome: str,
    covariates: list[str],
    covar_types: dict[str, str],
    batch_size: int = 128,
) -> tuple[dict[str, int], dict[str, dict[str, list[str]]]]:
    """Batched per-variable complete-case stats: one agg job per
    ``batch_size`` variables instead of 2+ driver round-trips per
    variable (N via distinct count jobs, levels via ``distinct()``).

    For each variable the complete-case mask is AND(isNotNull) over
    [outcome, rv, covariates]; N = sum(mask) and, for every categorical
    column in that variable's model, levels = collect_set(mask ? col) —
    exactly the values a per-variable ``na.drop()`` subset would see, so
    treatment coding is unchanged (a level absent from the variable's
    complete cases contributes no dummy)."""
    ns: dict[str, int] = {}
    levels: dict[str, dict[str, list[str]]] = {}
    cat_covs = [c for c in covariates if covar_types.get(c) in (BINARY, CATEGORICAL)]
    rvs = list(rvs)
    for start in range(0, len(rvs), batch_size):
        chunk = rvs[start : start + batch_size]
        exprs = []
        for rv in chunk:
            mask = F.lit(True)
            for c in (outcome, rv, *covariates):
                mask = mask & qcol(c).isNotNull()
            exprs.append(F.sum(mask.cast("long")).alias(f"n::{rv}"))
            cat_cols = list(cat_covs)
            if rv_types.get(rv) != CONTINUOUS:
                cat_cols.append(rv)
            for c in cat_cols:
                exprs.append(
                    F.collect_set(
                        F.when(mask, qcol(c).cast("string"))
                    ).alias(f"l::{rv}::{c}")
                )
        row = df.agg(*exprs).collect()[0]
        for rv in chunk:
            ns[rv] = int(row[f"n::{rv}"] or 0)
            levels[rv] = {}
            cat_cols = list(cat_covs)
            if rv_types.get(rv) != CONTINUOUS:
                cat_cols.append(rv)
            for c in cat_cols:
                levels[rv][c] = _sort_levels(list(row[f"l::{rv}::{c}"]))
    return ns, levels


def _one_variable(
    df: DataFrame,
    rv: str,
    vtype: str,
    outcome: str,
    covariates: list[str],
    covar_types: dict[str, str],
    family: str,
    min_n: int,
    n: int,
    cat_levels: dict[str, list[str]],
) -> list[dict]:
    """Fit one variable end-to-end (runs on a driver thread; all heavy
    work is executor-side). ``n`` and ``cat_levels`` come prefetched from
    :func:`_prefetch_fit_stats` — no per-variable count/distinct jobs."""
    from clarite_python_spark.operators.analyze import _default_row

    row = _default_row(rv, outcome)
    row.update(Variable_type=vtype)
    try:
        use_cols = [outcome, rv, *covariates]
        sub = df.select(*[qcol(c).alias(c) for c in use_cols]).na.drop()
        row["N"] = n
        if n < min_n:
            raise ValueError(f"too few complete observations ({n} < {min_n})")

        feats: list[str] = []
        for cv in covariates:
            if covar_types.get(cv) in (BINARY, CATEGORICAL):
                sub, nm = _dummy_cols(sub, cv, cat_levels[cv], f"c{len(feats)}")
                feats.extend(nm)
            else:
                name = f"__c{len(feats)}"
                sub = sub.withColumn(name, qcol(cv).cast("double"))
                feats.append(name)

        if vtype == CONTINUOUS:
            sub = sub.withColumn("__rv", qcol(rv).cast("double"))
            rv_feats = ["__rv"]
        else:
            sub, rv_feats = _dummy_cols(sub, rv, cat_levels[rv], "rv")

        sub = sub.withColumn("__y", qcol(outcome).cast("double"))
        summary, model = _fit_ml_glm(sub, feats + rv_feats, "__y", family)
        coef_names = feats + rv_feats + ["Intercept"]  # ml puts intercept last
        se = list(summary.coefficientStandardErrors)
        tvals = list(summary.tValues)
        betas = list(model.coefficients) + [model.intercept]
        dof = summary.degreesOfFreedom

        def wald_p(t):
            if family == "gaussian":
                return 2.0 * float(t_sf(abs(t), dof))
            return 2.0 * float(norm_sf(abs(t)))

        if vtype in (CONTINUOUS, BINARY):
            i = coef_names.index(rv_feats[0])
            row.update(
                Converged=True,
                Beta=float(betas[i]),
                SE=float(se[i]),
                Beta_pvalue=wald_p(tvals[i]),
                pvalue=wald_p(tvals[i]),
            )
            return [row]
        # categorical: LRT vs restricted model (no rv dummies)
        if feats:
            summary_r, _ = _fit_ml_glm(sub, feats, "__y", family)
            dev_r = summary_r.deviance
            aic_r = summary_r.aic
            df_r = n - (len(feats) + 1)
        else:
            # intercept-only restricted model: deviance = null deviance
            dev_r = summary.nullDeviance
            aic_r = None
            df_r = n - 1
        dev_f = summary.deviance
        df_f = n - (len(feats) + len(rv_feats) + 1)
        lrdf = df_r - df_f
        if family == "gaussian":
            # scale-profiled Gaussian log-likelihoods (statsmodels
            # convention, matching the grouped kernel)
            scale_f = dev_f / df_f
            llf_f = -0.5 * (dev_f / scale_f + n * np.log(2.0 * np.pi * scale_f))
            scale_r = dev_r / df_r
            llf_r = -0.5 * (dev_r / scale_r + n * np.log(2.0 * np.pi * scale_r))
            lrstat = -2.0 * (llf_r - llf_f)
            aic_f = -2.0 * llf_f + 2.0 * (len(feats) + len(rv_feats) + 1)
            aic_rr = -2.0 * llf_r + 2.0 * (len(feats) + 1)
            diff_aic = aic_f - aic_rr
        else:
            lrstat = dev_r - dev_f
            diff_aic = summary.aic - aic_r if aic_r is not None else np.nan
        lr_p = float(chi2_sf(lrstat, lrdf)) if lrdf > 0 else np.nan
        row.update(Converged=True, LRT_pvalue=lr_p, Diff_AIC=float(diff_aic), pvalue=lr_p)
        return [row]
    except Exception:
        # per-variable errors become an all-NaN row, like the grouped
        # kernel (reference errors map, glm_regression.py:560-565)
        err_row = _default_row(rv, outcome)
        err_row.update(Variable_type=vtype)
        return [err_row]


def columnar_association_study(
    df: DataFrame,
    outcome: str,
    rvs: Sequence[str],
    rv_types: dict[str, str],
    covariates: list[str],
    covar_types: dict[str, str],
    family: str,
    min_n: int,
    max_concurrent_jobs: int = 8,
) -> pd.DataFrame:
    """Run the fan-out as N distributed ML-GLM jobs (driver thread pool).

    Returns a pandas frame in RESULT_SCHEMA column order (small: one row
    per variable)."""
    from clarite_python_spark.operators.analyze import RESULT_SCHEMA

    ns, levels = _prefetch_fit_stats(
        df, rvs, rv_types, outcome, covariates, covar_types
    )
    with ThreadPoolExecutor(max_workers=max_concurrent_jobs) as pool:
        futures = [
            pool.submit(
                _one_variable,
                df,
                rv,
                rv_types[rv],
                outcome,
                covariates,
                covar_types,
                family,
                min_n,
                ns[rv],
                levels[rv],
            )
            for rv in rvs
        ]
        rows = [r for f in futures for r in f.result()]
    out = pd.DataFrame(rows)
    out["N"] = out["N"].astype("Int64")
    return out[[f.name for f in RESULT_SCHEMA.fields]]
