"""The regression fan-out — CLARITE's core "query engine"
(reference ``clarite/modules/analyze/``).

``association_study`` fits one GLM per (outcome x regression-variable)
pair over a single wide table. The reference iterates variables in one
process (its multiprocessing pool is force-disabled,
``glm_regression.py:400-401``); here the designed per-variable
independence becomes the distributed axis. Per outcome, the variables
pass through a chain of batched routes: each takes the variables it can
fit from aggregations, returns their rows to the driver and hands the
rest on. The grouped tail fits whatever is left, lazily:

==========================  ========  ==================  ===================  ================
route                       family    design              takes                leftovers go to
==========================  ========  ==================  ===================  ================
``olsagg``                  Gaussian  none                every variable       grouped tail
``binomagg``                binomial  none                small value domains  grouped tail
``wolsagg``                 Gaussian  survey [1]          continuous           grouped tail
grouped tail                any       any                 what is left         --
==========================  ========  ==================  ===================  ================

[1] at most ``SURVEY_MAX_UNITS`` PSUs (strata, without clusters).
A survey-weighted binomial study has no batched route: the grouped tail
fits every variable. ``use_sufficient_stats=False`` or a custom
``regression_kind`` sends every variable to the grouped tail. The survey
route runs once per weight group; a variable a per-variable weight
mapping leaves out gets an all-NaN row.

The grouped tail is laid out in variable blocks:

    wide df --inline(array(named_struct(block 0), named_struct(block 1), ...))-->
        (ID, outcome, covars..., __block,
         __cont: array<double>, __disc: array<string>)
        --groupBy("__block").applyInPandas(block kernel: parse the outcome
                                            and covariates once, then one
                                            numpy GLM per variable)
        --> result rows --repartition(1).sortWithinPartitions(pvalue)

Each row ships once per block (rows x blocks records, not one per
(row, variable)): the blocks are round-robin slices of the variables,
``max(4 x defaultParallelism, ceil(variables / 64))`` of them (at most
one per variable), so a block's kernel task holds rows x <=64 values in
Python. A block's continuous variables travel as doubles
(``CAST(v AS DOUBLE)``, as ``olsagg`` reads them, so NaN is missing like
null) and its binary/categorical variables as strings (levels keep the
order and ``[T.level]`` names they have in the reference); a block with
no variable on a side carries a typed empty array there, and a side no
block uses is left out. The unweighted kernel works
on the block's numpy arrays (``_make_assoc_block_kernel``); the
survey-weighted kernel and a custom ``regression_kind`` see the
per-variable long form — key ``(variable,)``, the id columns plus
``variable`` and ``value`` — through ``_block_kernel``. The result (one
row per variable, <=10^6 rows) is sorted on ONE partition
(``catalog.sort_result``): a global ``orderBy`` would plan a range
exchange whose sampling job runs the whole fan-out a second time.

Kernel inputs that are identical across groups (covariate types/levels,
family, min_n) ride along as a tiny closure-captured dict (broadcast by
task serialization, ≈KBs).
"""

from __future__ import annotations

import math
import warnings
from dataclasses import dataclass
from itertools import combinations
from typing import Mapping, Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from clarite_python_spark.catalog import (
    BINARY,
    CATEGORICAL,
    CONSTANT,
    CONTINUOUS,
    GENOTYPES,
    ID_COL,
    UNKNOWN,
    ClariteFrame,
    local_frame,
    qcol,
    qlit,
    qname,
    sort_result,
)
from clarite_python_spark.functions import binomagg, olsagg, wolsagg
from clarite_python_spark.functions.distributions import chi2_sf, t_sf
from clarite_python_spark.functions.glm import (
    BINOMIAL,
    GAUSSIAN,
    dummy_encode,
    fit_glm,
)
from clarite_python_spark.functions.wglm import (
    fit_weighted_glm,
    jackknife_vcov,
    regterm_pvalue,
    sandwich_vcov,
    survey_dof,
)
from clarite_python_spark.survey.design import CLUST_COL, STRAT_COL, SUBSET_COL, _weight_col

__all__ = [
    "association_study",
    "interaction_study",
    "add_corrected_pvalues",
    "ewas",
    "get_significant",
]


# Largest survey design the batched survey route takes, in PSUs (strata
# when the design has no cluster): it assembles the sandwich on the
# driver from one #units x params^2 score block (16k PSUs x a dozen
# params ~ MBs); a larger design leaves every variable to the grouped
# kernel.
SURVEY_MAX_UNITS = 16384

# Widest variable block of the grouped tail: a block's kernel task holds
# rows x this many values in Python.
BLOCK_WIDTH = 64

RESULT_SCHEMA = T.StructType(
    [
        T.StructField("Variable", T.StringType()),
        T.StructField("Outcome", T.StringType()),
        T.StructField("Category", T.StringType()),
        T.StructField("Variable_type", T.StringType()),
        T.StructField("Weight", T.StringType()),
        T.StructField("Converged", T.BooleanType()),
        T.StructField("N", T.LongType()),
        T.StructField("Beta", T.DoubleType()),
        T.StructField("SE", T.DoubleType()),
        T.StructField("Beta_pvalue", T.DoubleType()),
        T.StructField("LRT_pvalue", T.DoubleType()),
        T.StructField("Diff_AIC", T.DoubleType()),
        T.StructField("pvalue", T.DoubleType()),
    ]
)
# The reference's result frame (glm_regression.py:240-252) has index
# (Variable, Outcome[, Category]) and columns Variable_type..pvalue; the
# Category level exists only when report_categorical_betas=True — we keep
# a single schema with a nullable Category column.


def _default_row(rv: str, outcome: str) -> dict:
    """All-NaN result row (reference get_default_result_dict,
    glm_regression.py:197-210)."""
    return {
        "Variable": rv,
        "Outcome": outcome,
        "Category": None,
        "Variable_type": None,
        "Weight": None,
        "Converged": False,
        "N": None,
        "Beta": np.nan,
        "SE": np.nan,
        "Beta_pvalue": np.nan,
        "LRT_pvalue": np.nan,
        "Diff_AIC": np.nan,
        "pvalue": np.nan,
    }


def _encode_binary_outcome(levels: list) -> dict:
    """Sorted levels -> {level: 0/1}; 'Case'/'Control' special-cased so
    Control=0, Case=1 (reference glm_regression.py:135-150, GH #115)."""
    cats = sorted(levels)
    if len(cats) != 2:
        raise ValueError(f"binary outcome must have 2 levels, got {cats}")
    if cats[0] == "Case" and cats[1] == "Control":
        cats = ["Control", "Case"]
    return {cats[0]: 0.0, cats[1]: 1.0}


def _design_matrix(
    sub: pd.DataFrame,
    covariates: Sequence[str],
    covar_types: Mapping[str, str],
) -> tuple[np.ndarray, list[str]]:
    """Intercept + encoded covariates of a complete-case frame. Categorical
    covariates are treatment-coded against their *present* sorted levels
    (the reference drops empty categories after the complete-case mask,
    glm_regression.py:510-520, then patsy uses sorted levels); a
    covariate that does not vary is dropped. Returns (matrix, names)."""
    _, parsed = _parse_covariates(sub, covariates, covar_types)
    return _reduced_design(parsed, np.ones(len(sub), dtype=bool))


def _block_values(
    pdf: pd.DataFrame, block: list[str], rv_types: Mapping[str, str]
) -> dict[str, np.ndarray]:
    """Each variable of a block (``_block_layout``) as one column of
    values: float64 (NaN where missing) for a continuous variable, strings
    (None where missing) for a binary/categorical one."""
    values = {}
    for (col, _), names in zip(_SIDES, _split_block(block, rv_types)):
        if names:
            x = np.stack(pdf[col].to_numpy())
            values.update({v: x[:, j] for j, v in enumerate(names)})
    return values


def _result_frame(rows: list[dict]) -> pd.DataFrame:
    out = pd.DataFrame(rows, columns=[f.name for f in RESULT_SCHEMA.fields])
    out["N"] = out["N"].astype("Int64")
    return out


def _parse_covariates(
    pdf: pd.DataFrame, covariates: Sequence[str], covar_types: Mapping[str, str]
) -> tuple[np.ndarray, list[tuple]]:
    """Once per block: the rows where every covariate is present, and each
    covariate as ``(name, values, levels)`` — float values and
    ``levels=None`` when continuous, codes into its sorted levels when
    binary/categorical."""
    base = np.ones(len(pdf), dtype=bool)
    parsed = []
    for cv in covariates:
        col = pdf[cv]
        present = col.notna().to_numpy()
        base &= present
        if covar_types.get(cv) in (BINARY, CATEGORICAL):
            levels, codes = np.unique(col.to_numpy()[present], return_inverse=True)
            full = np.full(len(pdf), -1)
            full[present] = codes
            parsed.append((cv, full, levels))
        else:
            parsed.append((cv, col.to_numpy(dtype=float), None))
    return base, parsed


def _reduced_design(parsed: list[tuple], mask: np.ndarray) -> tuple[np.ndarray, list[str]]:
    """Intercept + encoded covariates over the rows of ``mask``, from
    parsed covariates (``_parse_covariates``): a covariate that does not
    vary among those rows is dropped, a discrete one is treatment-coded
    against its levels present there."""
    n = int(mask.sum())
    cols = [np.ones((n, 1))]
    names = ["Intercept"]
    for cv, values, levels in parsed:
        v = values[mask]
        if levels is None:
            if n == 0 or (v == v[0]).all():
                continue
            cols.append(v[:, None])
            names.append(cv)
            continue
        present = np.flatnonzero(np.bincount(v, minlength=len(levels)))
        if len(present) <= 1:
            continue
        cols.append((v[:, None] == present[1:]).astype(float))
        names.extend(f"{cv}[T.{levels[k]}]" for k in present[1:])
    return np.hstack(cols), names


def _make_assoc_block_kernel(
    outcome: str,
    covariates: list[str],
    covar_types: dict[str, str],
    rv_types: dict[str, str],
    family: str,
    min_n: int,
    report_categorical_betas: bool,
    blocks: list[list[str]],
):
    """Build the unweighted grouped tail's kernel: key ``(block,)``, a pdf
    of the id columns plus ``__cont``/``__disc`` (the block layout of the
    module docstring), one result frame per block.

    The outcome and covariates are parsed once per block; each variable
    then follows the reference per-RV flow (_run_rv,
    glm_regression.py:450-565): complete-case mask -> min_n gate -> drop
    non-varying covariates -> fit -> extract Wald (continuous/binary RV)
    or LRT (categorical RV). A variable whose fit fails gets the all-NaN
    row.
    """

    def variable_rows(rv, x, y, base, parsed) -> list[dict]:
        vtype = rv_types[rv]
        present = ~np.isnan(x) if vtype == CONTINUOUS else pd.notna(x)
        mask = base & present
        n_complete = int(mask.sum())
        if n_complete < min_n:
            raise ValueError(f"too few complete observations ({n_complete} < {min_n})")
        y = y[mask]
        x = x[mask]
        Xr, names_r = _reduced_design(parsed, mask)
        row = _default_row(rv, outcome)
        row.update(Variable_type=vtype, N=n_complete)
        if vtype == CONTINUOUS:
            res = fit_glm(np.hstack([Xr, x[:, None]]), y, names_r + [rv], family)
            if res.converged:
                b, s, p = res.by_name()[rv]
                row.update(Converged=True, Beta=b, SE=s, Beta_pvalue=p, pvalue=p)
            return [row]
        if vtype not in (BINARY, CATEGORICAL):
            raise ValueError(f"unsupported regression variable type {vtype!r}")
        mat, nm = dummy_encode(x, _sorted_levels(x), rv)
        res = fit_glm(np.hstack([Xr, mat]), y, names_r + nm, family)
        if vtype == BINARY:
            if res.converged and nm:
                b, s, p = res.by_name()[nm[0]]
                row.update(Converged=True, Beta=b, SE=s, Beta_pvalue=p, pvalue=p)
            return [row]
        res_r = fit_glm(Xr, y, names_r, family)
        if not (res.converged and res_r.converged):
            return [row]
        lrdf = res_r.df_resid - res.df_resid
        lrstat = -2.0 * (res_r.llf - res.llf)
        lr_p = float(chi2_sf(lrstat, lrdf)) if lrdf > 0 else np.nan
        row.update(Converged=True, LRT_pvalue=lr_p, Diff_AIC=res.aic - res_r.aic, pvalue=lr_p)
        if not report_categorical_betas:
            return [row]
        # no rows when there is no level to report (a single-level
        # categorical), as in the weighted kernel
        by = res.by_name()
        rows = []
        for param in nm:
            b, s, p = by[param]
            rows.append(dict(row, Category=param, Beta=b, SE=s, Beta_pvalue=p))
        return rows

    def kernel(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        names = blocks[key[0]]
        try:
            values = _block_values(pdf, names, rv_types)
            y = pdf[outcome].to_numpy(dtype=float)
            base, parsed = _parse_covariates(pdf, covariates, covar_types)
            base &= ~np.isnan(y)
        except (TypeError, ValueError):  # a covariate that does not parse fails every fit
            return _result_frame([_default_row(rv, outcome) for rv in names])
        rows: list[dict] = []
        for rv in names:
            try:
                rows.extend(variable_rows(rv, values[rv], y, base, parsed))
            except Exception:
                rows.append(_default_row(rv, outcome))
        return _result_frame(rows)

    return kernel


def _encode_genotype_variables(
    data: ClariteFrame,
    candidates: Sequence[str],
    encoding: str,
    edge_encoding_info,
) -> ClariteFrame:
    """Pre-encode genotype columns before the fan-out (reference
    ``_get_rv_specific_data``, glm_regression.py:364-384): the encoded
    column replaces the genotype in place and its CLARITE type becomes
    the encoded type (continuous, or categorical for codominant). Pure
    column expressions — the plan gains one projection, no UDF."""
    from clarite_python_spark.functions.genotypes import (
        KNOWN_ENCODINGS,
        edge_alphas,
        encode_genotype_sql,
    )

    geno = [c for c in candidates if data.catalog.get(c) == GENOTYPES]
    if not geno:
        return data
    if encoding not in KNOWN_ENCODINGS:
        raise ValueError(f"Genotypes provided with unknown 'encoding': {encoding}")
    if encoding == "edge" and edge_encoding_info is None:
        raise ValueError("'edge_encoding_info' must be provided when using edge encoding")
    alphas = edge_alphas(edge_encoding_info) if encoding == "edge" else {}
    df = data.df
    cat = data.catalog.copy()
    # ONE selectExpr of SQL strings, replacing columns in place: the
    # Column-API form cost ~20 py4j round-trips per variant (measured
    # 43 s of driver time at 1,000 variants just BUILDING the plan); a
    # per-column withColumn loop additionally nests one Project per
    # genotype and overflows the JVM stack at GWAS width (10^3-10^6)
    exprs = {}
    for c in geno:
        if c not in cat.alleles:
            raise ValueError(f"genotype column {c!r} has no allele info (make_genotypes)")
        ref, alt = cat.alleles[c]
        alpha = alphas.get(c)
        if encoding == "edge" and alpha is None:
            raise ValueError(f"no edge alpha provided for variant {c!r}")
        sql, new_type = encode_genotype_sql(c, ref, alt, encoding, alpha)
        exprs[c] = sql
        cat.set(c, new_type)
    select = [
        f"{exprs[c]} AS {qname(c)}" if c in exprs else qname(c)
        for c in df.columns
    ]
    return ClariteFrame(df.selectExpr(*select), cat)


def _ensure_parallelism(df: DataFrame) -> DataFrame:
    """Spread the fan-out's scans across cores when the input arrived as
    a SINGLE partition (a local / createDataFrame artifact: a
    pandas-built frame is one partition, serializing every aggregation —
    measured 70s vs ~3s for the GWAS contingency pass). Only the
    degenerate case triggers: for any multi-split input (parquet at
    scale) the repartition shuffle costs more than the extra
    parallelism buys on scan-bound aggregations (measured 3.1s vs 1.7s
    on a 3-split sf0.1 lineitem suffstats query), so this never adds a
    shuffle there."""
    target = df.sparkSession.sparkContext.defaultParallelism
    if target > 1 and df.rdd.getNumPartitions() == 1:
        return df.repartition(target)
    return df


def _variable_blocks(group: list[str], parallelism: int) -> list[list[str]]:
    """Split the grouped tail's variables into round-robin blocks: at least
    ``4 x parallelism`` of them (so every core gets several kernel tasks)
    and at most ``BLOCK_WIDTH`` variables wide. Round-robin spreads the
    two-fit categorical variables evenly over the blocks."""
    n_blocks = min(len(group), max(4 * parallelism, math.ceil(len(group) / BLOCK_WIDTH)))
    return [group[k::n_blocks] for k in range(n_blocks)]


# The grouped tail's two value arrays, in ``_split_block`` order.
_SIDES = (("__cont", "DOUBLE"), ("__disc", "STRING"))


def _split_block(block: list[str], rv_types: Mapping[str, str]) -> tuple[list[str], list[str]]:
    """A block's continuous variables and its binary/categorical ones, in
    block order: the ``__cont`` and ``__disc`` arrays of its rows."""
    cont = [v for v in block if rv_types[v] == CONTINUOUS]
    return cont, [v for v in block if rv_types[v] != CONTINUOUS]


def _typed_array(variables: list[str], sql_type: str) -> str:
    if not variables:
        return f"CAST(array() AS ARRAY<{sql_type}>)"
    return "array(" + ", ".join(f"CAST({qname(v)} AS {sql_type})" for v in variables) + ")"


def _block_layout(
    df: DataFrame, id_vars: list[str], blocks: list[list[str]], rv_types: Mapping[str, str]
) -> DataFrame:
    """The grouped tail's input: each row once per block, carrying the
    block's continuous values as ``__cont: array<double>`` and its
    binary/categorical values as ``__disc: array<string>`` (``_split_block``
    order), in ONE ``selectExpr`` generator over one struct per block. A
    side that no block uses is left out; a block with no variable on a
    side the others use carries a typed empty array there."""
    split = [_split_block(b, rv_types) for b in blocks]
    sides = [(i, side) for i, side in enumerate(_SIDES) if any(s[i] for s in split)]
    structs = [
        f"named_struct('__block', {k}, "
        + ", ".join(f"'{col}', {_typed_array(s[i], sql_type)}" for i, (col, sql_type) in sides)
        + ")"
        for k, s in enumerate(split)
    ]
    return df.selectExpr(
        *[qname(c) for c in id_vars], f"inline(array({', '.join(structs)}))"
    )


def _block_kernel(
    kernel, id_vars: list[str], blocks: list[list[str]], rv_types: Mapping[str, str]
):
    """Adapt a per-variable kernel (key ``(rv,)``; pdf = id columns +
    ``variable`` + ``value``) to one variable block: each variable's
    ``value`` column is rebuilt from whichever array holds it — float64
    (NaN where missing) for a continuous variable, strings (None where
    missing) for a binary/categorical one. The survey-weighted kernel and
    custom ``regression_kind`` factories run through this adapter."""

    def block_kernel(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        names = blocks[key[0]]
        value = _block_values(pdf, names, rv_types)
        ids = pdf[id_vars]
        parts = [kernel((rv,), ids.assign(variable=rv, value=value[rv])) for rv in names]
        # a kernel may report no rows for a variable; leaving those parts
        # out keeps pandas from warning about empty-frame dtypes
        return pd.concat([p for p in parts if len(p)] or parts[:1], ignore_index=True)

    return block_kernel


def _sorted_levels(values) -> list:
    """Distinct values of a column without missing values, sorted
    numerically when every value parses as a number, else lexically —
    matching pandas' sorted category levels (values keep their original
    numeric order in the reference even though the grouped tail carries
    them as strings)."""
    lv = list(dict.fromkeys(values))
    try:
        return sorted(lv, key=float)
    except (TypeError, ValueError):
        return sorted(lv)


def _missing_weight_error(sub_values: pd.Series, missing_mask, weight_name: str) -> str:
    """Detailed missing-weight error (reference survey_design.py:431-486)."""
    n_missing = int(missing_mask.sum())
    unique_missing = set(sub_values[missing_mask].dropna().unique())
    unique_not_missing = set(sub_values[~missing_mask].dropna().unique())
    sometimes = sorted(str(v) for v in unique_missing & unique_not_missing)
    always = sorted(str(v) for v in unique_missing - unique_not_missing)
    error = (
        f"{n_missing:,} observations are missing weights ({weight_name})"
        f" when the variable is not missing."
    )
    if len(sometimes) == 1:
        error += f"\n\tOne value sometimes occurs in observations with missing weight: {sometimes[0]}"
    elif len(sometimes) > 1:
        error += (
            f"\n\t{len(sometimes)} values sometimes occur in observations with missing weight:"
            f" {', '.join(sometimes[:5])}{', ...' if len(sometimes) > 5 else ''}"
        )
    if len(always) == 1:
        error += (
            f"\n\tOne value is only found in observations with missing weights: {always[0]}."
            " Should it be encoded as NaN?"
        )
    elif len(always) > 1:
        error += (
            f"\n\t{len(always)} values are only found in observations with missing weights: "
            f"{', '.join(always[:5])}{', ...' if len(always) > 5 else ''} Should they be encoded as NaN?"
        )
    return error


def _make_weighted_kernel(
    outcome: str,
    covariates: list[str],
    covar_types: dict[str, str],
    rv_types: dict[str, str],
    family: str,
    min_n: int,
    report_categorical_betas: bool,
    constants: dict,
    weight_info: dict,
    vcov_method: str = "stata",
):
    """applyInPandas kernel for the survey-weighted fan-out (reference
    ``weighted_glm_regression.py:357-494``). ``constants`` is the
    full-design broadcast state from SurveyDesignSpec.constants();
    ``weight_info`` = {single_weight, weight_name, weight_names,
    weight_means, drop_unweighted}. ``vcov_method``: ``"stata"`` =
    linearized sandwich (what the reference's ``fit`` uses);
    ``"jackknife"`` = delete-1-cluster replicates (implemented but unused
    in the reference, survey_model.py:174-208).
    """
    has_strata = constants["has_strata"]
    has_cluster = constants["has_cluster"]

    def kernel(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        rv = key[0]
        vtype = rv_types[rv]
        rows: list[dict] = []
        try:
            # ---- resolve + normalize the weight for this variable ----
            if weight_info["single_weight"]:
                wname = weight_info["weight_name"]
            elif weight_info["weight_names"] is not None:
                wname = weight_info["weight_names"].get(rv)
                if wname is None:
                    raise ValueError(
                        f"No weight found in the survey design for the '{rv}' variable"
                    )
            else:
                wname = None
            if wname is not None:
                wvals = pdf[_weight_col(wname)] / weight_info["weight_means"][wname]
            else:
                wvals = pd.Series(1.0, index=pdf.index)

            subset = pdf[SUBSET_COL]
            if subset.isna().any():
                n_miss = int(subset.isna().sum())
                raise ValueError(
                    f"The survey design is missing information for {n_miss:,} rows in the data"
                )
            subset = subset.astype(bool)

            # ---- missing-weight policy (reference survey_design.py:397-486)
            weight_label = wname
            var_na = pdf["value"].isna()
            if wname is not None:
                missing_weight = ~var_na & wvals.isna() & subset
                n_mw = int(missing_weight.sum())
                if n_mw > 0:
                    if weight_info["drop_unweighted"]:
                        weight_label = f"{wname} ({n_mw} observations are missing weights)"
                    else:
                        raise ValueError(
                            _missing_weight_error(pdf["value"], missing_weight, wname)
                        )
            else:
                missing_weight = pd.Series(False, index=pdf.index)

            complete = ~pdf[[outcome, *covariates, "value"]].isna().any(axis=1)
            restricted = complete & subset & ~missing_weight
            N = int(restricted.sum())
            if N < min_n:
                raise ValueError(
                    f"too few complete observations (min_n filter: {N} < {min_n})"
                )

            sub = pdf.loc[restricted]
            y = sub[outcome].to_numpy(dtype=float)
            w = wvals.loc[restricted].to_numpy(dtype=float)
            strat = sub[STRAT_COL].to_numpy(dtype=object)
            clust = sub[CLUST_COL].to_numpy(dtype=object) if has_cluster else None
            Xr, names_r = _design_matrix(sub, covariates, covar_types)

            def compute_vcov(fitted, X):
                if vcov_method == "jackknife":
                    return jackknife_vcov(
                        X, y, w, family, fitted, strat, clust, constants
                    )
                return sandwich_vcov(fitted, strat, clust, constants)

            def finish_wald(row, fitted, names, n_params, X):
                vcov = compute_vcov(fitted, X)
                stderr = np.sqrt(np.clip(np.diag(vcov), 0, None))
                pos = [
                    i
                    for i, n in enumerate(names)
                    if n == rv or n.startswith(f"{rv}[T.")
                ]
                if len(pos) != 1:
                    raise ValueError(
                        f"Failed to find regression variable column in the results for {rv}"
                    )
                i = pos[0]
                beta, se = float(fitted.params[i]), float(stderr[i])
                dof = survey_dof(has_strata, has_cluster, strat, clust, len(sub), n_params)
                if dof < 1:
                    row.update(Converged=True, Beta=beta, SE=np.inf, Beta_pvalue=1.0, pvalue=1.0)
                else:
                    p = 2.0 * float(t_sf(abs(beta / se), dof))
                    row.update(Converged=True, Beta=beta, SE=se, Beta_pvalue=p, pvalue=p)

            if vtype in (CONTINUOUS, BINARY):
                if vtype == CONTINUOUS:
                    x = pd.to_numeric(sub["value"]).to_numpy(dtype=float)[:, None]
                    names = names_r + [rv]
                else:
                    levels = _sorted_levels(sub["value"])
                    x, nm = dummy_encode(sub["value"].to_numpy(), levels, rv)
                    names = names_r + nm
                X = np.hstack([Xr, x])
                fitted = fit_weighted_glm(X, y, w, family)
                row = _default_row(rv, outcome)
                row.update(Variable_type=vtype, Weight=weight_label, N=N)
                if fitted.converged:
                    finish_wald(row, fitted, names, X.shape[1], X)
                rows.append(row)
            elif vtype == CATEGORICAL:
                levels = _sorted_levels(sub["value"])
                mat, nm = dummy_encode(sub["value"].to_numpy(), levels, rv)
                X_f = np.hstack([Xr, mat])
                names_f = names_r + nm
                fit_f = fit_weighted_glm(X_f, y, w, family)
                fit_r = fit_weighted_glm(Xr, y, w, family)
                # non-converged weighted categorical fits emit NO rows
                # (reference generator, weighted_glm_regression.py:245-286)
                if fit_f.converged and fit_r.converged:
                    vcov_f = compute_vcov(fit_f, X_f)
                    dof = survey_dof(has_strata, has_cluster, strat, clust, len(sub), X_f.shape[1])
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
                            row = _default_row(rv, outcome)
                            row.update(
                                Variable_type=vtype,
                                Weight=weight_label,
                                N=N,
                                Converged=True,
                                Category=pname,
                                Beta=beta,
                                SE=se,
                                Beta_pvalue=bp,
                                LRT_pvalue=lr_p,
                                pvalue=lr_p,
                            )
                            rows.append(row)
                    else:
                        row = _default_row(rv, outcome)
                        row.update(
                            Variable_type=vtype,
                            Weight=weight_label,
                            N=N,
                            Converged=True,
                            LRT_pvalue=lr_p,
                            pvalue=lr_p,
                        )
                        rows.append(row)
            else:
                raise ValueError(f"unsupported regression variable type {vtype!r}")
        except Exception:
            rows = [_default_row(rv, outcome)]
        return _result_frame(rows)

    return kernel


def _zscore_columns(df: DataFrame, cols: list[str]) -> DataFrame:
    """Global ddof=1 z-score (reference glm_regression.py:172-190 uses
    scipy zscore ddof=1 over the whole column, NaNs omitted). One stats
    agg broadcast back — no driver round-trip."""
    if not cols:
        return df
    stats = df.agg(
        *[F.mean(qcol(c)).alias(f"mu::{c}") for c in cols],
        *[F.stddev_samp(qcol(c)).alias(f"sd::{c}") for c in cols],
    )
    joined = df.crossJoin(F.broadcast(stats))
    return joined.select(
        *[
            ((qcol(c) - qcol("mu::" + c)) / qcol("sd::" + c)).alias(c)
            if c in set(cols)
            else qcol(c)
            for c in df.columns
        ]
    )


def _encode_outcome(data: ClariteFrame, df: DataFrame, outcome: str) -> tuple[DataFrame, str]:
    """The outcome as the GLMs read it, and its family: a continuous
    outcome cast to double (Gaussian), a binary one mapped to 0/1
    (Binomial, ``_encode_binary_outcome``)."""
    outcome_type = data.catalog.get(outcome)
    if outcome_type == CONTINUOUS:
        return df.withColumn(outcome, F.col(outcome).cast("double")), GAUSSIAN
    if outcome_type == BINARY:
        mapping = _encode_binary_outcome(data.category_levels(outcome))
        expr = F.when(F.col(outcome).isNull(), F.lit(None).cast("double"))
        for k, v in mapping.items():
            expr = expr.when(F.col(outcome).cast("string") == F.lit(str(k)), F.lit(v))
        return df.withColumn(outcome, expr), BINOMIAL
    raise ValueError(f"outcome {outcome!r} must be continuous or binary")


def _survey_constants(spec, data: ClariteFrame) -> dict:
    """Check the design against the data, then collect its full-design
    constants and weight means (both cached on the spec)."""
    err = spec.validate(data)
    if err is not None:
        raise ValueError(err)
    # warm the two cached full-design collects CONCURRENTLY:
    # constants() (one groupBy-cluster agg) and weight_means() (one
    # global agg) are independent jobs that otherwise run back-to-back;
    # every later call hits the spec's cache.
    from concurrent.futures import ThreadPoolExecutor as _TPE

    with _TPE(max_workers=2) as _pool:
        _cf = _pool.submit(spec.constants)
        _wf = _pool.submit(spec.weight_means)
        _cf.result()
        _wf.result()
    return spec.constants()


@dataclass
class _Fan:
    """One outcome's fan-out: what every route reads."""

    data: ClariteFrame
    df: DataFrame  # outcome encoded; survey studies carry the design columns
    outcome: str
    family: str
    rv_types: dict[str, str]
    covariates: list[str]
    covar_types: dict[str, str]
    min_n: int
    report_categorical_betas: bool
    genotype_cols: set[str]
    spec: object = None  # SurveyDesignSpec
    w_consts: dict | None = None  # full-design constants + drop_unweighted
    design_units: int = 0  # PSUs, or strata when the design has no cluster
    vcov_method: str = "stata"

    def default_row(self, rv: str) -> dict:
        return _default_row(rv, self.outcome)

    def prefetch_levels(self, extra: Sequence[str] = ()) -> None:
        """Warm the discrete covariates' (and ``extra``'s) level cache in
        one scan."""
        self.data.prefetch_category_levels(
            [c for c in self.covariates if self.covar_types[c] in (BINARY, CATEGORICAL)]
            + list(extra)
        )


def _gaussian_route(fan: _Fan, group: list[str]) -> tuple[list[dict], list[str]]:
    """Every unweighted Gaussian fit is closed-form OLS: ONE batched
    masked-sum pass covers continuous variables (Wald t), binary
    variables (Wald on the treatment dummy) and categorical variables
    (LRT vs the restricted sub-block of the same Gram) — no shuffle of
    data rows, no Python groups (functions/olsagg.py; ~20x the kernel at
    the reference's canonical 22.6k x 970 shape). Variables whose
    complete-case level set differs from the catalog's are left over."""
    cont = [v for v in group if fan.rv_types[v] == CONTINUOUS]
    enc = [v for v in group if fan.rv_types[v] in (BINARY, CATEGORICAL)]
    fan.prefetch_levels(enc)
    return olsagg.gaussian_assoc_rows(
        fan.df, fan.outcome, cont, enc, fan.rv_types, fan.covariates, fan.covar_types,
        fan.data.category_levels, fan.min_n, fan.report_categorical_betas, fan.default_row,
    )


def _binomial_route(fan: _Fan, group: list[str]) -> tuple[list[dict], list[str]]:
    """Unweighted binomial fits collapse to contingency cells when the
    variable and all covariates have small value domains (GWAS
    genotypes: 3 values) — ONE count aggregation, then frequency-weighted
    IRLS (identical iterates to the row-level kernel) per variable on
    the driver (functions/binomagg.py). Wide domains and continuous
    covariates are left over."""
    return binomagg.binomial_contingency_rows(
        fan.df, fan.outcome, group, fan.rv_types, fan.covariates, fan.covar_types,
        fan.min_n, fan.report_categorical_betas, fan.default_row,
        known_small=fan.genotype_cols,
    )


def _survey_gaussian_route(fan: _Fan, group: list[str]) -> tuple[list[dict], list[str]]:
    """Survey-weighted Gaussian fits of CONTINUOUS variables are
    closed-form: per-(variable, cluster) weighted sufficient statistics
    feed the fit and the linearized sandwich, or the jackknife
    replicates (functions/wolsagg.py) — one mapInPandas scan instead of
    shipping data rows through per-variable Python groups. No-cluster
    designs (strata-only / weights-only) need per-observation score outer
    products for the sandwich: a SECOND scan computes per-stratum sums of
    w^2 e^2 z z' against the pass-1 fit. The route runs once per weight
    group; a variable that a per-variable weight mapping leaves out gets
    the all-NaN row (reference: "No weight found in the survey
    design")."""
    cont = [v for v in group if fan.rv_types[v] == CONTINUOUS]
    if cont:
        fan.prefetch_levels()
    rows, by_weight = [], {}
    for v in cont:
        try:
            wn = fan.spec.weight_for(v)
        except ValueError:  # a per-variable mapping without ``v``
            rows.append(fan.default_row(v))
            continue
        by_weight.setdefault(wn, []).append(v)
    means = fan.spec.weight_means()
    for wn, wvars in by_weight.items():
        args = (
            fan.df, fan.outcome, wvars, fan.covariates, fan.covar_types,
            fan.data.category_levels, fan.min_n, fan.default_row, fan.w_consts,
            None if wn is None else _weight_col(wn), means.get(wn, 1.0), wn, STRAT_COL,
        )
        if fan.spec.has_cluster:
            rows.extend(
                wolsagg.weighted_gaussian_suffstats_rows(
                    *args, CLUST_COL, SUBSET_COL, vcov_method=fan.vcov_method
                )
            )
        else:
            rows.extend(wolsagg.weighted_gaussian_nocluster_rows(*args, SUBSET_COL))
    taken = set(cont)
    return rows, [v for v in group if v not in taken]


def _batched_routes(fan: _Fan) -> list:
    """The batched routes one outcome's variables pass through, in order
    (the module docstring's table)."""
    if fan.spec is None:
        return [_gaussian_route if fan.family == GAUSSIAN else _binomial_route]
    if fan.family == GAUSSIAN and fan.design_units <= SURVEY_MAX_UNITS:
        return [_survey_gaussian_route]
    return []


def association_study(
    data: ClariteFrame,
    outcomes: str | Sequence[str],
    regression_variables: Sequence[str] | None = None,
    covariates: Sequence[str] | None = None,
    min_n: int = 200,
    standardize_data: bool = False,
    report_categorical_betas: bool = False,
    survey_design_spec=None,
    regression_kind: str | None = None,
    encoding: str = "additive",
    edge_encoding_info=None,
    use_sufficient_stats: bool = True,
    vcov_method: str = "stata",
) -> DataFrame:
    """EWAS-style mass regression (reference association_study.py:14-132).

    For each outcome and each regression variable: fit
    ``outcome ~ 1 + covariates + variable`` with family chosen by the
    outcome's CLARITE type (continuous -> Gaussian/identity with t-based
    Wald tests; binary -> Binomial/logit with z-based tests), complete-case
    per variable, ``min_n`` gate (default 200,
    glm_regression.py:54-56,474-479); categorical variables are tested
    with an LRT vs the restricted model. Returns the reference's result
    schema sorted by pvalue.

    With ``survey_design_spec`` (a SurveyDesignSpec) the fit is
    survey-adjusted (reference ``weighted_glm_regression.py``): the
    narrow design frame equi-joins into the wide table on ``ID``, the
    full-design constants broadcast into the kernel, and inference uses
    the linearized sandwich vcov + survey dof (+ working-LRT for
    categorical variables).

    ``use_sufficient_stats`` (default True) lets the batched routes of
    the module docstring's table take the variables they fit from
    aggregations; False sends every variable to the grouped tail. A
    survey-weighted binomial study has no batched route, so the grouped
    tail fits it either way.
    """
    custom_kernel_factory = None
    if callable(regression_kind):
        # user extension point (reference association_study.py:90-96
        # accepts a custom Regression subclass): a factory
        # ``f(outcome, covariates, covar_types, rv_types, family, min_n,
        # report_categorical_betas) -> kernel(key, pdf) -> pd.DataFrame``
        # whose kernel runs inside the grouped fan-out, once per variable
        # (``_block_kernel``), and must return rows matching
        # RESULT_SCHEMA. ``pdf["value"]`` holds a continuous variable as
        # float64 (NaN where missing) and a binary/categorical one as
        # strings (None where missing).
        custom_kernel_factory = regression_kind
        if survey_design_spec is not None:
            raise ValueError("a custom regression_kind does not support survey designs")
    elif regression_kind not in (None, "glm", "weighted_glm"):
        raise ValueError(f"unsupported regression_kind {regression_kind!r}")
    if vcov_method not in ("stata", "jackknife"):
        raise ValueError(f"unsupported vcov_method {vcov_method!r}")
    if vcov_method == "jackknife" and (
        survey_design_spec is None or not survey_design_spec.has_cluster
    ):
        raise ValueError("vcov_method='jackknife' requires a cluster survey design")
    if regression_kind == "weighted_glm" and survey_design_spec is None:
        raise ValueError("A 'survey_design_spec' must be provided")
    if isinstance(outcomes, str):
        outcomes = [outcomes]
    covariates = list(covariates or [])
    all_vars = data.variables
    if regression_variables is None:
        regression_variables = [c for c in all_vars if c not in set(outcomes) | set(covariates)]
    rvs = list(regression_variables)

    genotype_cols = {
        c for c in [*rvs, *covariates] if data.catalog.get(c) == GENOTYPES
    }
    data = _encode_genotype_variables(
        data, [*rvs, *covariates], encoding, edge_encoding_info
    )
    cat = data.catalog
    for v in [*outcomes, *covariates, *rvs]:
        if v not in cat.types:
            raise ValueError(f"unknown variable {v!r}")
    for outcome in outcomes:
        if cat.get(outcome) == CATEGORICAL:
            raise NotImplementedError(
                "Categorical Outcomes are not yet supported for this type of regression."
            )
    skipped = [v for v in rvs if cat.get(v) in (CONSTANT, UNKNOWN)]
    if skipped:
        warnings.warn(f"skipping {len(skipped)} constant/unknown regression variables")
        rvs = [v for v in rvs if v not in set(skipped)]

    covar_types = {c: cat.get(c) for c in covariates}
    survey = {}
    if survey_design_spec is not None:
        consts = _survey_constants(survey_design_spec, data)
        survey = dict(
            spec=survey_design_spec,
            w_consts=dict(consts, drop_unweighted=survey_design_spec.drop_unweighted),
            design_units=len(
                consts["clusters"] if survey_design_spec.has_cluster else consts["rows_per_strat"]
            ),
            vcov_method=vcov_method,
        )
        weight_info = {
            "single_weight": survey_design_spec.single_weight,
            "weight_name": survey_design_spec.weight_name,
            "weight_names": survey_design_spec.weight_names,
            "weight_means": survey_design_spec.weight_means(),
            "drop_unweighted": survey_design_spec.drop_unweighted,
        }
    results: list[DataFrame] = []
    for outcome in outcomes:
        my_rvs = [v for v in rvs if v != outcome]
        rv_types = {v: cat.get(v) for v in my_rvs}
        df, family = _encode_outcome(data, _ensure_parallelism(data.df), outcome)

        if standardize_data:
            z_cols = [v for v in my_rvs if rv_types[v] == CONTINUOUS]
            z_cols += [c for c in covariates if covar_types[c] == CONTINUOUS]
            if family == GAUSSIAN:
                z_cols.append(outcome)
            df = _zscore_columns(df, z_cols)

        id_vars = [ID_COL, outcome, *covariates]
        kernel_args = (
            outcome, covariates, covar_types, rv_types, family, min_n, report_categorical_betas
        )
        per_variable = None  # a kernel the grouped tail runs through _block_kernel
        if survey_design_spec is not None:
            df = df.join(survey_design_spec.df, on=ID_COL, how="left")
            id_vars += survey_design_spec.design_columns()
            per_variable = _make_weighted_kernel(
                *kernel_args, consts, weight_info, vcov_method=vcov_method
            )
        elif custom_kernel_factory is not None:
            per_variable = custom_kernel_factory(*kernel_args)

        # each batched route takes the variables it fits and hands the
        # rest on; the grouped tail fits whatever is left
        fan = _Fan(
            data, df, outcome, family, rv_types, covariates, covar_types, min_n,
            report_categorical_betas, genotype_cols, **survey,
        )
        group = [v for v in my_rvs if rv_types[v] in (CONTINUOUS, BINARY, CATEGORICAL)]
        driver_rows: list[dict] = []
        if use_sufficient_stats and custom_kernel_factory is None:
            for route in _batched_routes(fan):
                rows, group = route(fan, group)
                driver_rows.extend(rows)
        if driver_rows:
            results.append(local_frame(driver_rows, RESULT_SCHEMA))
        if group:
            blocks = _variable_blocks(group, df.sparkSession.sparkContext.defaultParallelism)
            if per_variable is None:
                kernel = _make_assoc_block_kernel(*kernel_args, blocks)
            else:
                kernel = _block_kernel(per_variable, id_vars, blocks, rv_types)
            results.append(
                _block_layout(df, id_vars, blocks, rv_types)
                .groupBy("__block")
                .applyInPandas(kernel, RESULT_SCHEMA)
            )

    out = results[0]
    for r in results[1:]:
        out = out.unionByName(r)
    order = [F.asc_nulls_last("pvalue")]
    if report_categorical_betas:
        order.append(F.asc_nulls_last("Beta_pvalue"))
    return sort_result(out, *order)


def ewas(
    outcome: str,
    covariates: Sequence[str],
    data: ClariteFrame,
    **kwargs,
) -> DataFrame:
    """Deprecated alias for :func:`association_study` (reference
    ``clarite/modules/analyze/ewas.py:9-106`` raises the same warning)."""
    warnings.warn(
        "ewas is deprecated; use association_study instead", DeprecationWarning
    )
    return association_study(data=data, outcomes=outcome, covariates=covariates, **kwargs)


# --------------------------------------------------------------------------
# multiple-testing correction (pure window ops)
# --------------------------------------------------------------------------


def add_corrected_pvalues(
    result: DataFrame, pvalue: str = "pvalue", groupby: str | Sequence[str] | None = None
) -> DataFrame:
    """Bonferroni + Benjamini-Hochberg FDR columns
    (reference analyze/utils.py:9-117, statsmodels multipletests :69-74).

    Pure Spark window math — no kernel:
    - m = number of non-NA pvalues (distinct groups when ``groupby``);
    - bonferroni = min(p*m, 1);
    - BH = running min of p*m/rank over descending-p order, with a RANGE
      frame (``Window.orderBy(desc(p)).rangeBetween(unboundedPreceding,
      currentRow)``) so tied p-values are peers sharing one frame: every
      tied row sees the tie group's smallest p*m/rank, matching
      statsmodels ``multipletests`` exactly under ties.

    With ``groupby``, repeated rows of the same group count as ONE test
    (reference :47-58): corrections are computed over the deduplicated
    (group, pvalue) pairs then joined back.

    Scale note: the global windows are single-partition — fine for result
    tables (|variables| rows, ≤10^6), which is the only place this runs.
    """
    if groupby is not None:
        keys = [groupby] if isinstance(groupby, str) else list(groupby)
        base = result.select(*keys, pvalue).dropDuplicates(keys)
        corrected = add_corrected_pvalues(base, pvalue=pvalue, groupby=None)
        return sort_result(
            result.join(
                corrected.select(*keys, "pvalue_bonferroni", "pvalue_fdr"), on=keys, how="left"
            ),
            F.asc_nulls_last("pvalue_fdr"),
            F.asc_nulls_last("pvalue_bonferroni"),
        )

    # one projection per window level, as SQL strings (a handful of py4j
    # calls instead of one per Column node); invalid pvalues keep a null
    # correction (reference utils.py:47-58 computes over dropna and
    # rejoins)
    p = qname(pvalue)
    valid = f"({p} IS NOT NULL AND NOT isnan({p}))"
    m = f"sum(CASE WHEN {valid} THEN 1 ELSE 0 END) OVER ()"
    # NULLS LAST explicitly: plain ASC sorts nulls FIRST, which would hand
    # rank 1 to a missing pvalue and shift every BH rank by one (NaN also
    # sorts last in ASC)
    rank = f"row_number() OVER (ORDER BY {p} ASC NULLS LAST)"
    keep = [qname(c) for c in result.columns if c not in ("pvalue_bonferroni", "pvalue_fdr")]
    raw = result.selectExpr(
        *keep,
        f"CASE WHEN {valid} THEN least({p} * {m}, 1.0D) END AS pvalue_bonferroni",
        f"CASE WHEN {valid} THEN least({p} * {m} / {rank}, 1.0D) END AS __bh_raw",
    )
    # RANGE (not ROWS) frame: peers — rows with a tied pvalue — are always
    # inside each other's frame, so ties deterministically share the cummin
    out = raw.selectExpr(
        *keep,
        "pvalue_bonferroni",
        f"CASE WHEN {valid} THEN min(__bh_raw) OVER (ORDER BY {p} DESC NULLS LAST"
        " RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) END AS pvalue_fdr",
    )
    return out.orderBy(F.asc_nulls_last("pvalue_fdr"), F.asc_nulls_last("pvalue_bonferroni"))


def get_significant(
    result: DataFrame, pvalue: float = 0.05, method: str = "fdr"
) -> DataFrame:
    """Rows whose corrected pvalue is <= the threshold (reference CLI
    ``analyze get_significant``, cli/commands/analyze.py:299-324).
    ``method`` selects the ``pvalue_fdr`` or ``pvalue_bonferroni`` column
    (run :func:`add_corrected_pvalues` first)."""
    col = {"fdr": "pvalue_fdr", "bonferroni": "pvalue_bonferroni"}.get(method)
    if col is None:
        raise ValueError("method must be 'fdr' or 'bonferroni'")
    if col not in result.columns:
        raise ValueError(f"{col} not found — run add_corrected_pvalues first")
    return result.where(F.col(col) <= pvalue)


# --------------------------------------------------------------------------
# interaction study
# --------------------------------------------------------------------------

INTERACTION_SCHEMA = T.StructType(
    [
        T.StructField("Outcome", T.StringType()),
        T.StructField("Term1", T.StringType()),
        T.StructField("Term2", T.StringType()),
        T.StructField("Parameter", T.StringType()),
        T.StructField("Converged", T.BooleanType()),
        T.StructField("N", T.LongType()),
        T.StructField("LRT_pvalue", T.DoubleType()),
        T.StructField("Red_Var1_beta", T.DoubleType()),
        T.StructField("Red_Var1_SE", T.DoubleType()),
        T.StructField("Red_Var1_Pval", T.DoubleType()),
        T.StructField("Red_Var2_beta", T.DoubleType()),
        T.StructField("Red_Var2_SE", T.DoubleType()),
        T.StructField("Red_Var2_Pval", T.DoubleType()),
        T.StructField("Full_Var1_Var2_beta", T.DoubleType()),
        T.StructField("Full_Var1_Var2_SE", T.DoubleType()),
        T.StructField("Full_Var1_Var2_Pval", T.DoubleType()),
        T.StructField("Full_Var1_beta", T.DoubleType()),
        T.StructField("Full_Var1_SE", T.DoubleType()),
        T.StructField("Full_Var1_Pval", T.DoubleType()),
        T.StructField("Full_Var2_beta", T.DoubleType()),
        T.StructField("Full_Var2_SE", T.DoubleType()),
        T.StructField("Full_Var2_Pval", T.DoubleType()),
        T.StructField("Log", T.StringType()),
    ]
)
# 20-column schema of the reference (interaction_regression.py:143-168).


def _interaction_default(i1: str, i2: str, outcome: str) -> dict:
    d = {f.name: None for f in INTERACTION_SCHEMA.fields}
    d.update(
        Outcome=outcome,
        Term1=i1,
        Term2=i2,
        Parameter=f"{i1}:{i2}",
        Converged=False,
        Log="",
    )
    return d


def interaction_study(
    data: ClariteFrame,
    outcomes: str | Sequence[str],
    interactions: Sequence[tuple[str, str]] | None = None,
    covariates: Sequence[str] | None = None,
    min_n: int = 200,
    report_betas: bool = False,
    encoding: str = "additive",
    edge_encoding_info=None,
    use_sufficient_stats: bool = True,
    pair_batch_size: int = 2000,
) -> DataFrame:
    """Pairwise-interaction LRT (reference interaction_study.py:10-137,
    interaction_regression.py:22-501): restricted =
    ``outcome ~ 1 + v1 + v2 + covars``, full = ``+ v1:v2``;
    ``interactions=None`` means all C(n,2) pairs (ref :111).

    Spark plan: the pair list is generated driver-side; each pair becomes
    one group of a long table built with an Expand
    (``explode(array(struct(t1, t2, v1, v2)))``) — rows x |pairs|, grouped
    by (Term1, Term2) into the numpy GLM kernel. Interaction columns are
    products of the (dummy-encoded) main-effect columns, names
    ``a[:T.x]:b[:T.y]`` matching patsy.

    ``pair_batch_size`` bounds the Expand: the pair list is chunked and
    each chunk becomes its own job, results unioned. All-pairs over
    p=970 variables is ~470k pairs — one Expand of rows x 470k is an
    OOM/shuffle blowup, while 235 bounded jobs stream through the
    cluster (and give per-batch progress). The sufficient-stats path is
    chunked too (bounds the per-agg expression count).
    """
    if isinstance(outcomes, str):
        outcomes = [outcomes]
    covariates = list(covariates or [])
    data = _encode_genotype_variables(
        data,
        [c for c in data.variables if c not in set(outcomes)],
        encoding,
        edge_encoding_info,
    )
    cat = data.catalog
    rv_all = [
        c
        for c in data.variables
        if c not in set(outcomes) | set(covariates) and cat.get(c) in (BINARY, CATEGORICAL, CONTINUOUS)
    ]
    if interactions is None:
        pairs = list(combinations(rv_all, 2))
    else:
        pairs = [tuple(p) for p in interactions]
        for p in pairs:
            if len(p) != 2 or p[0] not in set(rv_all) or p[1] not in set(rv_all):
                raise ValueError(f"invalid interaction {p}")
    covar_types = {c: cat.get(c) for c in covariates}
    var_types = {v: cat.get(v) for v in rv_all}

    results = []
    for outcome in outcomes:
        df, family = _encode_outcome(data, _ensure_parallelism(data.df), outcome)

        my_pairs = list(pairs)
        if use_sufficient_stats and family == GAUSSIAN:
            # continuous x continuous pairs are closed-form OLS: full +
            # restricted + LRT from one sufficient-stats pass (the scale
            # path for pairwise epistasis; functions/olsagg.py)
            from clarite_python_spark.functions.olsagg import gaussian_interaction_rows

            suff_pairs = [
                (a, b)
                for a, b in my_pairs
                if var_types[a] == CONTINUOUS and var_types[b] == CONTINUOUS
            ]
            my_pairs = [p for p in my_pairs if p not in set(suff_pairs)]

            # the chunk aggs are independent jobs over one shared input
            # whose per-job cost is dominated by fixed overhead (plan
            # analysis of ~batch x 20 Gram expressions + job latency) —
            # submit them from a driver thread pool (guide §2.6) instead
            # of serially; pool.map preserves chunk order so the result
            # union is identical. Single-chunk studies (the common
            # p <= pair_batch_size case, incl. the bench query) take the
            # same one-job path as before.
            def _suff_chunk(start: int) -> list[dict]:
                return gaussian_interaction_rows(
                    df,
                    outcome,
                    suff_pairs[start : start + pair_batch_size],
                    covariates,
                    covar_types,
                    data.category_levels,
                    min_n,
                    report_betas,
                    lambda a, b: _interaction_default(a, b, outcome),
                )

            starts = list(range(0, len(suff_pairs), pair_batch_size))
            if len(starts) > 1:
                from concurrent.futures import ThreadPoolExecutor

                data.prefetch_category_levels(
                    [c for c in covariates if covar_types[c] in (BINARY, CATEGORICAL)]
                )
                with ThreadPoolExecutor(max_workers=min(4, len(starts))) as pool:
                    chunk_rows = list(pool.map(_suff_chunk, starts))
            else:
                chunk_rows = [_suff_chunk(s) for s in starts]
            for suff_rows in chunk_rows:
                results.append(local_frame(suff_rows, INTERACTION_SCHEMA))
        if not my_pairs:
            continue

        kernel = _make_interaction_kernel(
            outcome, covariates, covar_types, var_types, family, min_n, report_betas
        )
        for start in range(0, len(my_pairs), pair_batch_size):
            batch = my_pairs[start : start + pair_batch_size]
            # the pair Expand as ONE selectExpr parse: four Columns per
            # pair would cost py4j round trips per pair
            structs = ", ".join(
                f"named_struct('Term1', {qlit(t1)}, 'Term2', {qlit(t2)},"
                f" 'v1', CAST({qname(t1)} AS STRING), 'v2', CAST({qname(t2)} AS STRING))"
                for t1, t2 in batch
            )
            keep = [qname(c) for c in (ID_COL, outcome, *covariates)]
            long = df.selectExpr(*keep, f"explode(array({structs})) AS __pair").selectExpr(
                *keep, "__pair.*"
            )
            res = long.groupBy("Term1", "Term2").applyInPandas(kernel, INTERACTION_SCHEMA)
            results.append(res)
    out = results[0]
    for r in results[1:]:
        out = out.unionByName(r)
    return sort_result(out, F.asc_nulls_last("LRT_pvalue"))


def _encode_term(sub: pd.DataFrame, col: str, vtype: str, name: str):
    """Main-effect encoding for one interaction term: continuous -> one
    float column; binary/categorical -> treatment-coded dummies."""
    if vtype == CONTINUOUS:
        return sub[col].to_numpy(dtype=float)[:, None], [name]
    levels = sorted(sub[col].dropna().unique().tolist())
    return dummy_encode(sub[col].to_numpy(), levels, name)


def _make_interaction_kernel(
    outcome: str,
    covariates: list[str],
    covar_types: dict[str, str],
    var_types: dict[str, str],
    family: str,
    min_n: int,
    report_betas: bool,
):
    def kernel(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        t1, t2 = key
        rows: list[dict] = []
        try:
            use_cols = [outcome, *covariates, "v1", "v2"]
            sub = pdf[use_cols].copy()
            # v1/v2 arrive as strings; recover numerics for continuous terms
            for vcol, term in (("v1", t1), ("v2", t2)):
                if var_types[term] == CONTINUOUS:
                    sub[vcol] = pd.to_numeric(sub[vcol], errors="coerce")
            sub = sub.dropna()
            n_complete = len(sub)
            if n_complete < min_n:
                raise ValueError(f"too few complete observations ({n_complete} < {min_n})")
            y = sub[outcome].to_numpy(dtype=float)
            Xc, names_c = _design_matrix(sub, covariates, covar_types)
            m1, n1 = _encode_term(sub, "v1", var_types[t1], t1)
            m2, n2 = _encode_term(sub, "v2", var_types[t2], t2)
            X_r = np.hstack([Xc, m1, m2])
            names_r = names_c + n1 + n2
            inter_cols = []
            inter_names = []
            for i, a in enumerate(n1):
                for j, b in enumerate(n2):
                    inter_cols.append(m1[:, i] * m2[:, j])
                    inter_names.append(f"{a}:{b}")
            X_f = np.hstack([X_r] + [np.column_stack(inter_cols)]) if inter_cols else X_r
            names_f = names_r + inter_names
            res_f = fit_glm(X_f, y, names_f, family)
            res_r = fit_glm(X_r, y, names_r, family)
            if res_f.converged and res_r.converged:
                lrdf = res_r.df_resid - res_f.df_resid
                lrstat = -2.0 * (res_r.llf - res_f.llf)
                if lrdf == 0 and lrstat == 0:
                    row = _interaction_default(t1, t2, outcome)
                    row.update(
                        Converged=True, N=n_complete, Log="Both models are equivalent in terms of fit"
                    )
                    rows.append(row)
                else:
                    lr_p = float(chi2_sf(lrstat, lrdf)) if lrdf > 0 else float("nan")
                    if report_betas:
                        by_f = res_f.by_name()
                        by_r = res_r.by_name()
                        for pname in inter_names:
                            a, b = pname.split(":", 1)
                            row = _interaction_default(t1, t2, outcome)
                            row.update(
                                Parameter=pname,
                                Converged=True,
                                N=n_complete,
                                LRT_pvalue=lr_p,
                                Red_Var1_beta=by_r[a][0],
                                Red_Var1_SE=by_r[a][1],
                                Red_Var1_Pval=by_r[a][2],
                                Red_Var2_beta=by_r[b][0],
                                Red_Var2_SE=by_r[b][1],
                                Red_Var2_Pval=by_r[b][2],
                                Full_Var1_Var2_beta=by_f[pname][0],
                                Full_Var1_Var2_SE=by_f[pname][1],
                                Full_Var1_Var2_Pval=by_f[pname][2],
                                Full_Var1_beta=by_f[a][0],
                                Full_Var1_SE=by_f[a][1],
                                Full_Var1_Pval=by_f[a][2],
                                Full_Var2_beta=by_f[b][0],
                                Full_Var2_SE=by_f[b][1],
                                Full_Var2_Pval=by_f[b][2],
                            )
                            rows.append(row)
                    else:
                        row = _interaction_default(t1, t2, outcome)
                        row.update(Converged=True, N=n_complete, LRT_pvalue=lr_p)
                        rows.append(row)
            else:
                row = _interaction_default(t1, t2, outcome)
                row.update(N=n_complete)
                rows.append(row)
        except Exception as e:
            row = _interaction_default(t1, t2, outcome)
            row["Log"] = str(e)[:200]
            rows = [row]
        out = pd.DataFrame(rows)
        out["N"] = out["N"].astype("Int64")
        return out[[f.name for f in INTERACTION_SCHEMA.fields]]

    return kernel
