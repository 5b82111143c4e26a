"""Survey-weighted routes of ``association_study`` on synthetic data.

A 3,000-row table in 10 strata x 3 PSUs carries continuous, binary and
categorical variables and a per-variable weight mapping that leaves one
variable unmapped; ``w2`` is null on a few rows and the design drops
unweighted observations. Under four designs (cluster + strata with the
linearized and the jackknife variance, strata only, weights only) and two
outcomes (continuous ``y``; binary ``yb``), each route must be entered
with exactly the variables it is meant to take, and for ``y`` the batched
routes (``use_sufficient_stats=True``) must give the grouped weighted
kernel's rows (``use_sufficient_stats=False``). No batched route takes a
survey-weighted binomial variable, so the ``yb`` fits are checked against
an independent numpy reference instead: weighted IRLS for the
coefficients and the Stata linearized sandwich for the standard errors.
"""

from __future__ import annotations

import inspect
import re

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import types as T

from clarite_python_spark.catalog import ClariteFrame, VariableCatalog
from clarite_python_spark.functions import binomagg, olsagg, wolsagg
from clarite_python_spark.operators import analyze
from clarite_python_spark.survey import SurveyDesignSpec

N_ROWS = 3000
MIN_N = 50
TYPES = {
    "y": "continuous",
    "yb": "binary",
    "age": "continuous",
    "sex": "binary",
    "grp": "categorical",
    "c1": "continuous",
    "c2": "continuous",
    "c3": "continuous",
    "b1": "binary",
    "k1": "categorical",
}
LEVELS = {
    "yb": ["Case", "Control"],
    "sex": ["f", "m"],
    "grp": ["g1", "g2", "g3"],
    "b1": ["no", "yes"],
    "k1": ["hi", "lo", "mid"],
}
RVS = ["c1", "c2", "c3", "b1", "k1"]
# c3 has no weight: its row is the all-NaN "No weight found" default
WEIGHTS = {"c1": "w1", "b1": "w1", "c2": "w2", "k1": "w2"}
COVARIATES = {"y": ["age", "grp"], "yb": ["sex", "grp"]}
DESIGNS = {
    "cluster_stata": (dict(strata="strat", cluster="psu", nest=True), "stata"),
    "cluster_jackknife": (dict(strata="strat", cluster="psu", nest=True), "jackknife"),
    "strata_only": (dict(strata="strat"), "stata"),
    "weights_only": ({}, "stata"),
}
DATA_SCHEMA = T.StructType(
    [
        T.StructField("ID", T.LongType()),
        T.StructField("y", T.DoubleType()),
        T.StructField("yb", T.StringType()),
        T.StructField("age", T.DoubleType()),
        T.StructField("sex", T.StringType()),
        T.StructField("grp", T.StringType()),
        T.StructField("c1", T.DoubleType()),
        T.StructField("c2", T.DoubleType()),
        T.StructField("c3", T.DoubleType()),
        T.StructField("b1", T.StringType()),
        T.StructField("k1", T.StringType()),
    ]
)
DESIGN_SCHEMA = T.StructType(
    [
        T.StructField("ID", T.LongType()),
        T.StructField("strat", T.LongType()),
        T.StructField("psu", T.LongType()),
        T.StructField("w1", T.DoubleType()),
        T.StructField("w2", T.DoubleType()),
    ]
)
# the batched route functions the spy wraps, by module
ROUTES = {
    "weighted_gaussian_suffstats_rows": wolsagg,
    "weighted_gaussian_nocluster_rows": wolsagg,
    "gaussian_assoc_rows": olsagg,
    "binomial_contingency_rows": binomagg,
}
# closed-form Grams agree with the kernel to rounding; the kernel's IRLS
# agrees with the numpy reference to its convergence tolerance
RTOL_GRAMS = 1e-9
RTOL_IRLS = 1e-6


def _tables(n: int) -> tuple[list[tuple], list[tuple]]:
    rng = np.random.RandomState(1855)
    strat = np.arange(n) % 10
    psu = rng.randint(0, 3, n)
    age = rng.uniform(20, 70, n)
    sex = rng.choice(LEVELS["sex"], n)
    grp = rng.choice(LEVELS["grp"], n)
    c1, c2, c3 = rng.randn(n), rng.randn(n) + 0.1 * strat, rng.randn(n)
    b1 = rng.choice(LEVELS["b1"], n)
    k1 = rng.choice(LEVELS["k1"], n)
    eta = 0.4 * c1 - 0.3 * c2 + 0.5 * (b1 == "yes") + 0.3 * (k1 == "hi") + 0.05 * strat
    y = eta + 0.02 * age + 0.4 * (grp == "g2") + rng.randn(n)
    p_case = 1 / (1 + np.exp(-(eta + 0.5 * (sex == "m") - 0.4 * (grp == "g3"))))
    yb = np.where(rng.rand(n) < p_case, "Case", "Control")
    data = {
        "ID": list(range(n)),
        "y": list(y),
        "yb": list(yb),
        "age": list(age),
        "sex": list(sex),
        "grp": list(grp),
        "c1": list(c1),
        "c2": list(c2),
        "c3": list(c3),
        "b1": list(b1),
        "k1": list(k1),
    }
    for c in RVS:
        for i in rng.choice(n, n // 20, replace=False):
            data[c][i] = None
    w2 = list(rng.uniform(0.5, 3.0, n))
    for i in rng.choice(n, 12, replace=False):
        w2[i] = None
    design = {
        "ID": list(range(n)),
        "strat": list(strat),
        "psu": list(psu),
        "w1": list(rng.uniform(0.5, 3.0, n)),
        "w2": w2,
    }

    def rows(cols: dict, schema: T.StructType) -> list[tuple]:
        names = [f.name for f in schema.fields]
        return [
            tuple(v.item() if isinstance(v, np.generic) else v for v in row)
            for row in zip(*(cols[c] for c in names))
        ]

    return rows(data, DATA_SCHEMA), rows(design, DESIGN_SCHEMA)


@pytest.fixture(scope="module")
def tables(spark):
    data_rows, design_rows = _tables(N_ROWS)
    cf = ClariteFrame(
        spark.createDataFrame(data_rows, DATA_SCHEMA),
        VariableCatalog(types=dict(TYPES), categories=dict(LEVELS)),
    )
    return cf, spark.createDataFrame(design_rows, DESIGN_SCHEMA)


@pytest.fixture
def route_calls(monkeypatch):
    """Record (route, weight label, sorted variables) for every batched
    route entered and (``"grouped"``, None, sorted variables) for the
    grouped tail."""
    calls: list[tuple] = []

    def spy(name, real):
        sig = inspect.signature(real)

        def wrapper(*args, **kwargs):
            bound = sig.bind(*args, **kwargs).arguments
            rvs = bound.get("rvs", bound.get("group"))
            if rvs is None:  # olsagg: continuous + encoded variables
                rvs = [*bound["cont_rvs"], *bound["enc_rvs"]]
            calls.append((name, bound.get("weight_label"), sorted(rvs)))
            return real(*args, **kwargs)

        return wrapper

    for name, module in ROUTES.items():
        monkeypatch.setattr(module, name, spy(name, getattr(module, name)))
    real_blocks = analyze._variable_blocks

    def blocks(group, parallelism):
        calls.append(("grouped", None, sorted(group)))
        return real_blocks(group, parallelism)

    monkeypatch.setattr(analyze, "_variable_blocks", blocks)
    return calls


def _study(cf, design_df, design: str, outcome: str, use_sufficient_stats: bool):
    design_kw, vcov_method = DESIGNS[design]
    spec = SurveyDesignSpec(design_df, weights=WEIGHTS, drop_unweighted=True, **design_kw)
    return analyze.association_study(
        cf,
        outcomes=outcome,
        regression_variables=RVS,
        covariates=COVARIATES[outcome],
        min_n=MIN_N,
        survey_design_spec=spec,
        use_sufficient_stats=use_sufficient_stats,
        vcov_method=vcov_method,
    ).toPandas()


def _expected_routes(design: str, outcome: str) -> list[tuple]:
    if outcome == "y":
        gram = "weighted_gaussian_" + (
            "suffstats_rows" if design.startswith("cluster") else "nocluster_rows"
        )
        return [
            (gram, "w1", ["c1"]),
            (gram, "w2", ["c2"]),
            ("grouped", None, ["b1", "k1"]),
        ]
    return [("grouped", None, sorted(RVS))]


def _canonical(df: pd.DataFrame) -> pd.DataFrame:
    out = df.assign(Category=df["Category"].fillna(""))
    return out.sort_values(["Variable", "Category"]).reset_index(drop=True)


@pytest.mark.parametrize("outcome", ["y", "yb"])
@pytest.mark.parametrize("design", list(DESIGNS))
def test_batched_routes_match_grouped_kernel(tables, route_calls, design, outcome):
    cf, design_df = tables
    fast = _canonical(_study(cf, design_df, design, outcome, True))
    assert sorted(route_calls) == sorted(_expected_routes(design, outcome))
    assert fast["Variable"].tolist() == sorted(RVS)
    # the unmapped variable has no fit; every other one converged, and the
    # w2 variables report the rows dropped for a missing weight
    by_var = fast.set_index("Variable")
    assert not by_var.loc["c3", "Converged"] and np.isnan(by_var.loc["c3", "pvalue"])
    assert by_var.drop(index="c3")["Converged"].all()
    assert re.fullmatch(r"w2 \(\d+ observations are missing weights\)", by_var.loc["c2", "Weight"])
    assert by_var.loc["c1", "Weight"] == "w1"
    if outcome == "yb":  # the run above was the grouped kernel already
        return

    route_calls.clear()
    slow = _canonical(_study(cf, design_df, design, outcome, False))
    assert route_calls == [("grouped", None, sorted(RVS))]
    assert slow["Variable"].tolist() == sorted(RVS)
    for col in ("Outcome", "Category", "Variable_type", "Weight", "Converged"):
        assert fast[col].tolist() == slow[col].tolist(), col
    assert fast["N"].astype("Int64").tolist() == slow["N"].astype("Int64").tolist()
    for col in ("Beta", "SE", "Beta_pvalue", "LRT_pvalue", "Diff_AIC", "pvalue"):
        a = fast[col].to_numpy(dtype=float)
        b = slow[col].to_numpy(dtype=float)
        assert np.allclose(a, b, rtol=RTOL_GRAMS, atol=1e-12, equal_nan=True), (col, a, b)


def _reference_logistic(design: str) -> dict[str, tuple[float, float]]:
    """(Beta, SE) of ``yb ~ 1 + sex + grp + variable`` for c1, c2 and b1,
    computed from the raw rows with numpy alone: Newton-Raphson on the
    weighted log-likelihood, then the Stata linearized sandwich — PSU
    score totals over the FULL design (a PSU with no fitted rows has a
    zero total), centred within stratum and scaled by n_h / (n_h - 1)."""
    data_rows, design_rows = _tables(N_ROWS)
    pdf = pd.DataFrame(data_rows, columns=[f.name for f in DATA_SCHEMA.fields])
    dpdf = pd.DataFrame(design_rows, columns=[f.name for f in DESIGN_SCHEMA.fields])
    strat = dpdf["strat"].to_numpy()
    # cluster_stata nests the PSUs in their strata; strata-only designs
    # make every row its own PSU
    psu = strat * 3 + dpdf["psu"].to_numpy() if design == "cluster_stata" else np.arange(N_ROWS)
    y = (pdf["yb"] == "Case").to_numpy(dtype=float)
    base = np.column_stack(
        [
            np.ones(N_ROWS),
            pdf["sex"] == "m",
            pdf["grp"] == "g2",
            pdf["grp"] == "g3",
        ]
    ).astype(float)
    out = {}
    for var, value in (
        ("c1", pdf["c1"].to_numpy(dtype=float)),
        ("c2", pdf["c2"].to_numpy(dtype=float)),
        ("b1", np.where(pdf["b1"].isna(), np.nan, (pdf["b1"] == "yes").astype(float))),
    ):
        w_all = dpdf[WEIGHTS[var]].to_numpy(dtype=float)
        fit = ~np.isnan(value) & ~np.isnan(w_all)
        X = np.column_stack([base, value])[fit]
        yf, w = y[fit], w_all[fit]
        beta = np.zeros(X.shape[1])
        for _ in range(100):
            mu = 1.0 / (1.0 + np.exp(-X @ beta))
            info = X.T @ (X * (w * mu * (1.0 - mu))[:, None])
            step = np.linalg.solve(info, X.T @ (w * (yf - mu)))
            beta = beta + step
            if np.abs(step).max() < 1e-12:
                break
        mu = 1.0 / (1.0 + np.exp(-X @ beta))
        bread = np.linalg.inv(X.T @ (X * (w * mu * (1.0 - mu))[:, None]))
        scores = np.zeros((N_ROWS, X.shape[1]))
        scores[fit] = (w * (yf - mu))[:, None] * X
        totals = pd.DataFrame(scores).groupby([strat, psu]).sum()
        meat = np.zeros((X.shape[1], X.shape[1]))
        for _, t in totals.groupby(level=0):
            nh = len(t)
            c = t.to_numpy() - t.to_numpy().mean(axis=0)
            meat += nh / (nh - 1.0) * c.T @ c
        vcov = bread @ meat @ bread
        out[var] = (beta[-1], float(np.sqrt(vcov[-1, -1])))
    return out


@pytest.mark.parametrize("design", ["cluster_stata", "strata_only"])
def test_survey_logistic_matches_numpy_reference(tables, design):
    cf, design_df = tables
    got = _study(cf, design_df, design, "yb", True).set_index("Variable")
    for var, (beta, se) in _reference_logistic(design).items():
        assert got.loc[var, "Beta"] == pytest.approx(beta, rel=RTOL_IRLS), var
        assert got.loc[var, "SE"] == pytest.approx(se, rel=RTOL_IRLS), var
