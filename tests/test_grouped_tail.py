"""The grouped fan-out's block layout and its block kernel.

``association_study`` with every variable in the grouped tail equals a
per-variable reference kernel run driver-side, one variable at a time,
on edge inputs: mixed types, a dotted name, missing values, an all-null
variable, a single-level categorical, a NaN continuous value, a
categorical covariate level absent from one variable's complete cases, a
covariate constant within one variable's complete cases, and blocks that
hold only continuous or only discrete variables."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import types as T

from clarite_python_spark.catalog import ClariteFrame, VariableCatalog, qname
from clarite_python_spark.functions.distributions import chi2_sf
from clarite_python_spark.functions.glm import BINOMIAL, GAUSSIAN, dummy_encode, fit_glm
from clarite_python_spark.operators import analyze
from clarite_python_spark.survey import SurveyDesignSpec

RVS = ["x_cont", "x_bin", "x_int", "x_str", "a.b", "x_null", "x_one"]
TYPES = {
    "y": "continuous",
    "yb": "binary",
    "age": "continuous",
    "x_cont": "continuous",
    "x_bin": "binary",
    "x_int": "categorical",
    "x_str": "categorical",
    "a.b": "continuous",
    "x_null": "continuous",
    "x_one": "categorical",
}
LEVELS = {
    "yb": ["Case", "Control"],
    "x_bin": ["no", "yes"],
    "x_int": [1, 2, 3],
    "x_str": ["hi", "lo", "mid"],
    "x_one": ["only"],
}
SCHEMA = T.StructType(
    [
        T.StructField("ID", T.LongType()),
        T.StructField("y", T.DoubleType()),
        T.StructField("yb", T.StringType()),
        T.StructField("age", T.DoubleType()),
        T.StructField("x_cont", T.DoubleType()),
        T.StructField("x_bin", T.StringType()),
        T.StructField("x_int", T.LongType()),
        T.StructField("x_str", T.StringType()),
        T.StructField("a.b", T.DoubleType()),
        T.StructField("x_null", T.DoubleType()),
        T.StructField("x_one", T.StringType()),
    ]
)
COVARIATES = ["age"]
MIN_N = 50


def _rows(n: int) -> list[tuple]:
    rng = np.random.RandomState(29)
    age = rng.uniform(20, 70, n)
    x = rng.randn(n)
    cols = {
        "ID": list(range(n)),
        "y": list(0.5 * x + 0.02 * age + rng.randn(n)),
        "yb": list(np.where(rng.rand(n) < 1 / (1 + np.exp(-x)), "Case", "Control")),
        "age": list(age),
        "x_cont": list(x),
        "x_bin": list(rng.choice(["no", "yes"], n)),
        "x_int": [int(v) for v in rng.randint(1, 4, n)],
        "x_str": list(rng.choice(["lo", "mid", "hi"], n)),
        "a.b": list(0.3 * x + rng.randn(n)),
        "x_null": [None] * n,
        "x_one": ["only"] * n,
    }
    for c in ("x_cont", "x_bin", "x_int", "x_str", "a.b", "x_one"):
        for i in rng.choice(n, n // 10, replace=False):
            cols[c][i] = None
    names = [f.name for f in SCHEMA.fields]
    return [
        tuple(v.item() if isinstance(v, np.generic) else v for v in row)
        for row in zip(*(cols[c] for c in names))
    ]


@pytest.fixture
def narrow_blocks(monkeypatch):
    """Blocks at most 3 variables wide whatever the core count, so each
    block holds several variables of different types."""
    real = analyze._variable_blocks
    monkeypatch.setattr(analyze, "BLOCK_WIDTH", 3)
    monkeypatch.setattr(analyze, "_variable_blocks", lambda group, parallelism: real(group, 0))


@pytest.fixture(scope="module")
def edge_cf(spark) -> ClariteFrame:
    df = spark.createDataFrame(_rows(300), SCHEMA)
    return ClariteFrame(df, VariableCatalog(types=dict(TYPES), categories=dict(LEVELS)))


def _long_inputs(
    cf: ClariteFrame, outcome: str, rvs=RVS, covariates=COVARIATES
) -> tuple[pd.DataFrame, pd.DataFrame]:
    """The id columns as the fan-out encodes them, and every variable as
    the per-variable kernels receive it: continuous values as doubles,
    binary/categorical values as strings."""
    types, levels = cf.catalog.types, cf.catalog.categories
    ids = cf.df.select("ID", outcome, *covariates).toPandas()
    if types[outcome] == "binary":
        ids[outcome] = ids[outcome].map(analyze._encode_binary_outcome(levels[outcome]))
    ids[outcome] = ids[outcome].astype(float)
    values = cf.df.selectExpr(
        "ID",
        *[
            f"CAST({qname(v)} AS {'DOUBLE' if types[v] == 'continuous' else 'STRING'}) AS {qname(v)}"
            for v in rvs
        ],
    ).toPandas()
    return ids, values


def _driver_side(kernel, ids: pd.DataFrame, values: pd.DataFrame, rvs=RVS) -> pd.DataFrame:
    parts = [kernel((rv,), ids.assign(variable=rv, value=values[rv].to_numpy())) for rv in rvs]
    return pd.concat([p for p in parts if len(p)], ignore_index=True)


def _canonical(df: pd.DataFrame) -> pd.DataFrame:
    out = df.assign(Category=df["Category"].fillna(""))
    return out.sort_values(["Variable", "Category"]).reset_index(drop=True)


def _assert_same_rows(got: pd.DataFrame, want: pd.DataFrame, rtol: float = 1e-10) -> None:
    got, want = _canonical(got), _canonical(want)
    assert len(got) == len(want)
    for col in ("Variable", "Outcome", "Category", "Variable_type", "Weight", "Converged"):
        assert got[col].tolist() == want[col].tolist(), col
    assert got["N"].astype("Int64").tolist() == want["N"].astype("Int64").tolist()
    for col in ("Beta", "SE", "Beta_pvalue", "LRT_pvalue", "Diff_AIC", "pvalue"):
        a = got[col].to_numpy(dtype=float)
        b = want[col].to_numpy(dtype=float)
        assert np.allclose(a, b, rtol=rtol, atol=1e-14, equal_nan=True), (col, a, b)


def _tail_vs_reference(
    cf: ClariteFrame, outcome: str, rvs, covariates, report_categorical_betas: bool = False
) -> pd.DataFrame:
    """Run the grouped tail on ``rvs`` and assert it equals the reference
    kernel run driver-side; returns the reference rows."""
    types = cf.catalog.types
    got = analyze.association_study(
        cf,
        outcomes=outcome,
        regression_variables=rvs,
        covariates=covariates,
        min_n=MIN_N,
        report_categorical_betas=report_categorical_betas,
        use_sufficient_stats=False,
    ).toPandas()
    kernel = _reference_kernel(
        outcome,
        covariates,
        {c: types[c] for c in covariates},
        {v: types[v] for v in rvs},
        GAUSSIAN if types[outcome] == "continuous" else BINOMIAL,
        MIN_N,
        report_categorical_betas,
    )
    want = _driver_side(kernel, *_long_inputs(cf, outcome, rvs, covariates), rvs=rvs)
    _assert_same_rows(got, want)
    return want


def _reference_levels(values: pd.Series) -> list:
    lv = values.dropna().unique().tolist()
    try:
        return sorted(lv, key=float)
    except (TypeError, ValueError):
        return sorted(lv)


def _reference_design(sub: pd.DataFrame, covariates, covar_types) -> tuple[np.ndarray, list[str]]:
    cols = [np.ones(len(sub))]
    names = ["Intercept"]
    for cv in covariates:
        vals = sub[cv]
        if vals.nunique(dropna=True) <= 1:
            continue
        if covar_types.get(cv) in ("binary", "categorical"):
            mat, nm = dummy_encode(vals.to_numpy(), sorted(vals.dropna().unique().tolist()), cv)
            if mat.shape[1]:
                cols.append(mat)
                names.extend(nm)
        else:
            cols.append(vals.to_numpy(dtype=float))
            names.append(cv)
    return np.column_stack([c if c.ndim == 2 else c[:, None] for c in cols]), names


def _reference_kernel(
    outcome, covariates, covar_types, rv_types, family, min_n, report_categorical_betas
):
    """The per-variable pandas kernel the grouped tail ran before it fitted
    whole blocks, kept as the oracle: key ``(rv,)``, a pdf of the id
    columns plus ``value`` (float64 for a continuous variable, strings for
    a discrete one, missing as NaN/None)."""
    schema = [f.name for f in analyze.RESULT_SCHEMA.fields]

    def kernel(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        rv = key[0]
        vtype = rv_types[rv]
        rows: list[dict] = []
        try:
            sub = pdf[[outcome, *covariates, "value"]].dropna()
            n_complete = len(sub)
            if n_complete < min_n:
                raise ValueError("too few complete observations")
            y = sub[outcome].to_numpy(dtype=float)
            Xr, names_r = _reference_design(sub, covariates, covar_types)
            row = analyze._default_row(rv, outcome)
            row.update(Variable_type=vtype, N=n_complete)
            if vtype == "continuous":
                x = pd.to_numeric(sub["value"]).to_numpy(dtype=float)[:, None]
                res = fit_glm(np.hstack([Xr, x]), y, names_r + [rv], family)
                if res.converged:
                    b, s, p = res.by_name()[rv]
                    row.update(Converged=True, Beta=b, SE=s, Beta_pvalue=p, pvalue=p)
                rows.append(row)
            else:
                levels = _reference_levels(sub["value"])
                mat, nm = dummy_encode(sub["value"].to_numpy(), levels, rv)
                res = fit_glm(np.hstack([Xr, mat]), y, names_r + nm, family)
                if vtype == "binary":
                    if res.converged and nm:
                        b, s, p = res.by_name()[nm[0]]
                        row.update(Converged=True, Beta=b, SE=s, Beta_pvalue=p, pvalue=p)
                    rows.append(row)
                else:
                    res_r = fit_glm(Xr, y, names_r, family)
                    if res.converged and res_r.converged:
                        lrdf = res_r.df_resid - res.df_resid
                        lr_p = float(chi2_sf(-2.0 * (res_r.llf - res.llf), lrdf)) if lrdf > 0 else np.nan
                        row.update(
                            Converged=True, LRT_pvalue=lr_p, Diff_AIC=res.aic - res_r.aic, pvalue=lr_p
                        )
                        if report_categorical_betas:
                            by = res.by_name()
                            for param in nm:
                                b, s, p = by[param]
                                rows.append(dict(row, Category=param, Beta=b, SE=s, Beta_pvalue=p))
                        else:
                            rows.append(row)
                    else:
                        rows.append(row)
        except Exception:
            rows = [analyze._default_row(rv, outcome)]
        out = pd.DataFrame(rows, columns=schema)
        out["N"] = out["N"].astype("Int64")
        return out

    return kernel


@pytest.mark.parametrize("report_categorical_betas", [False, True])
@pytest.mark.parametrize("outcome", ["y", "yb"])
def test_block_layout_matches_driver_side_kernel(
    edge_cf, narrow_blocks, outcome, report_categorical_betas
):
    want = _tail_vs_reference(edge_cf, outcome, RVS, COVARIATES, report_categorical_betas)
    assert want["Converged"].sum() >= 5  # the fits are real, not default rows


@pytest.mark.parametrize("outcome", ["y", "yb"])
def test_block_layout_matches_driver_side_weighted_kernel(
    spark, edge_cf, narrow_blocks, outcome
):
    n = edge_cf.df.count()
    rng = np.random.RandomState(31)
    strat = np.arange(n) % 6
    design_pdf = pd.DataFrame(
        {
            "ID": np.arange(n),
            "strat": strat,
            "psu": strat * 2 + rng.randint(0, 2, n),
            "w": rng.uniform(0.5, 2.0, n),
        }
    )
    spec = SurveyDesignSpec(
        spark.createDataFrame(design_pdf), strata="strat", cluster="psu", nest=True, weights="w"
    )
    got = analyze.association_study(
        edge_cf,
        outcomes=outcome,
        regression_variables=RVS,
        covariates=COVARIATES,
        min_n=MIN_N,
        report_categorical_betas=True,
        survey_design_spec=spec,
        use_sufficient_stats=False,
    ).toPandas()
    kernel = analyze._make_weighted_kernel(
        outcome,
        COVARIATES,
        {c: TYPES[c] for c in COVARIATES},
        {v: TYPES[v] for v in RVS},
        GAUSSIAN if TYPES[outcome] == "continuous" else BINOMIAL,
        MIN_N,
        True,
        spec.constants(),
        {
            "single_weight": spec.single_weight,
            "weight_name": spec.weight_name,
            "weight_names": spec.weight_names,
            "weight_means": spec.weight_means(),
            "drop_unweighted": spec.drop_unweighted,
        },
    )
    ids, values = _long_inputs(edge_cf, outcome)
    ids = ids.merge(spec.df.toPandas(), on="ID", how="left")
    want = _driver_side(kernel, ids, values)
    assert want["Converged"].sum() >= 5
    _assert_same_rows(got, want)


@pytest.mark.parametrize("outcome", ["y", "yb"])
def test_zero_row_input_gives_empty_result(spark, outcome):
    cf = ClariteFrame(
        spark.createDataFrame([], SCHEMA),
        VariableCatalog(types=dict(TYPES), categories=dict(LEVELS)),
    )
    res = analyze.association_study(
        cf,
        outcomes=outcome,
        regression_variables=RVS,
        covariates=COVARIATES,
        min_n=MIN_N,
        use_sufficient_stats=False,
    )
    assert res.schema == analyze.RESULT_SCHEMA
    assert res.collect() == []


def test_variable_blocks_are_round_robin_and_capped():
    group = [f"v{i}" for i in range(300)]
    blocks = analyze._variable_blocks(group, 1)
    assert len(blocks) == 5  # ceil(300 / 64): the width cap sets the count
    assert max(len(b) for b in blocks) <= analyze.BLOCK_WIDTH
    assert blocks[0][:3] == ["v0", "v5", "v10"]
    assert sorted(v for b in blocks for v in b) == sorted(group)
    assert len(analyze._variable_blocks(group, 8)) == 32  # 4 per core
    assert analyze._variable_blocks(["a", "b"], 8) == [["a"], ["b"]]


# ---- covariate and missing-value edges of the block kernel -------------------

GAP_COVARIATES = ["age", "grp", "c2"]
GAP_RVS = ["x_gap", "x_const", "x_nan", "x_bin", "x_str"]


@pytest.fixture(scope="module")
def gap_cf(spark) -> ClariteFrame:
    """``grp`` level g3 occurs only where ``x_gap`` is missing; ``c2`` is
    constant where ``x_const`` is present; ``x_nan`` holds NaN (not null)
    values; ``age`` holds a NaN too."""
    n = 240
    rng = np.random.RandomState(41)
    x = rng.randn(n)
    grp = rng.choice(["g1", "g2", "g3"], n)
    x_gap = np.where(grp == "g3", np.nan, rng.randn(n))
    x_const = np.where(np.arange(n) % 3 == 0, np.nan, rng.randn(n))
    c2 = np.where(np.isnan(x_const), rng.randn(n), 1.5)
    x_nan = rng.randn(n)
    age = rng.uniform(20, 70, n)
    pdf = pd.DataFrame(
        {
            "ID": np.arange(n),
            "y": 0.5 * x + 0.02 * age + rng.randn(n),
            "yb": np.where(rng.rand(n) < 1 / (1 + np.exp(-x)), "Case", "Control"),
            "age": age,
            "grp": grp,
            "c2": c2,
            "x_gap": x_gap,
            "x_const": x_const,
            "x_nan": x_nan,
            "x_bin": rng.choice(["no", "yes"], n),
            "x_str": rng.choice(["lo", "mid", "hi"], n),
        }
    )
    # pandas NaN arrives as null; NaN proper is made in SQL
    nan = "CAST('NaN' AS DOUBLE)"
    df = spark.createDataFrame(pdf).selectExpr(
        *[c for c in pdf.columns if c not in ("age", "x_nan")],
        f"CASE WHEN ID = 11 THEN {nan} ELSE age END AS age",
        f"CASE WHEN ID IN (3, 50, 77) THEN {nan} ELSE x_nan END AS x_nan",
    )
    types = {
        "y": "continuous", "yb": "binary", "age": "continuous", "grp": "categorical",
        "c2": "continuous", "x_gap": "continuous", "x_const": "continuous",
        "x_nan": "continuous", "x_bin": "binary", "x_str": "categorical",
    }
    levels = {
        "yb": ["Case", "Control"], "grp": ["g1", "g2", "g3"],
        "x_bin": ["no", "yes"], "x_str": ["hi", "lo", "mid"],
    }
    return ClariteFrame(df, VariableCatalog(types=types, categories=levels))


@pytest.mark.parametrize("outcome", ["y", "yb"])
def test_block_kernel_covariate_and_nan_edges(gap_cf, narrow_blocks, outcome):
    want = _tail_vs_reference(gap_cf, outcome, GAP_RVS, GAP_COVARIATES, True).set_index(
        "Variable"
    )
    assert want["Converged"].all()
    n_age = 239  # one NaN age
    assert want.loc["x_nan", "N"] == n_age - 3
    assert want.loc["x_bin", "N"] == n_age


@pytest.mark.parametrize(
    "rvs",
    [
        ["x_gap", "x_const", "x_nan"],  # no discrete side at all
        ["x_bin", "x_str"],  # no continuous side at all
        ["x_gap", "x_bin", "x_const", "x_str"],  # blocks [x_gap, x_const], [x_bin, x_str]
    ],
    ids=["continuous", "discrete", "one-sided-blocks"],
)
def test_block_kernel_one_sided_blocks(gap_cf, narrow_blocks, rvs):
    """Blocks that hold only continuous, or only discrete, variables: a side
    no block uses is left out, a block without a variable on a side the
    others use carries a typed empty array."""
    want = _tail_vs_reference(gap_cf, "y", rvs, GAP_COVARIATES)
    assert want["Converged"].all()


@pytest.mark.parametrize("outcome", ["y", "yb"])
def test_nan_value_is_missing_on_every_route(spark, outcome):
    """A NaN in a continuous variable is a missing observation whether a
    batched route or the grouped tail fits it: both settings give equal
    rows and N leaves the NaN row out."""
    n = 400
    rng = np.random.RandomState(43)
    x = rng.randn(n)
    xnan = 0.5 * x + rng.randn(n)
    pdf = pd.DataFrame(
        {
            "ID": np.arange(n),
            "y": 0.6 * x + rng.randn(n),
            "yb": (rng.rand(n) < 1 / (1 + np.exp(-x))).astype(np.int64),
            "age": rng.uniform(20, 70, n),
            "xnan": xnan,
        }
    )
    types = {"y": "continuous", "yb": "binary", "age": "continuous", "xnan": "continuous"}
    df = spark.createDataFrame(pdf).selectExpr(
        "ID", "y", "yb", "age", "CASE WHEN ID = 17 THEN CAST('NaN' AS DOUBLE) ELSE xnan END AS xnan"
    )
    cf = ClariteFrame(df, VariableCatalog(types=types, categories={"yb": [0, 1]}))
    rows = [
        analyze.association_study(
            cf,
            outcomes=outcome,
            regression_variables=["xnan"],
            covariates=["age"],
            min_n=MIN_N,
            use_sufficient_stats=batched,
        ).toPandas()
        for batched in (True, False)
    ]
    assert rows[0]["N"].tolist() == [n - 1]
    assert rows[0]["Converged"].tolist() == [True]
    _assert_same_rows(rows[0], rows[1], rtol=1e-9)
