"""association_study / interaction_study / add_corrected_pvalues contracts.

The numeric oracle is a driver-side numpy fit over the same pandas data —
i.e. the distributed applyInPandas fan-out must reproduce the
single-machine math exactly."""

import math

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from clarite_python_spark.functions.glm import dummy_encode, fit_glm
from clarite_python_spark.operators import analyze


@pytest.fixture(scope="module")
def assoc_result(ewas_cf):
    return analyze.association_study(
        ewas_cf,
        outcomes="outcome",
        covariates=["age", "sex"],
        min_n=50,
    ).toPandas().set_index("Variable")


def test_association_study_finds_signal(assoc_result):
    r = assoc_result
    assert r.loc["signal", "pvalue"] < 1e-20
    assert r.loc["noise1", "pvalue"] > 1e-4
    assert r.loc["cat_var", "LRT_pvalue"] < 1e-10
    assert r.loc["cat_var", "Variable_type"] == "categorical"
    assert bool(r.loc["signal", "Converged"])
    assert r.loc["signal", "N"] == 1000


def test_association_study_matches_driver_side_fit(assoc_result, ewas_pdf):
    """Distributed result == local numpy fit of the same model."""
    pdf = ewas_pdf
    sexm = (pdf["sex"] == "M").astype(float).to_numpy()
    X = np.column_stack([np.ones(len(pdf)), pdf["age"], sexm, pdf["signal"]])
    res = fit_glm(X, pdf["outcome"].to_numpy(), ["i", "age", "sex[T.M]", "signal"], "gaussian")
    assert assoc_result.loc["signal", "Beta"] == pytest.approx(res.params[3], rel=1e-10)
    assert assoc_result.loc["signal", "SE"] == pytest.approx(res.bse[3], rel=1e-10)
    assert assoc_result.loc["signal", "pvalue"] == pytest.approx(res.pvalues[3], rel=1e-8, abs=1e-300)


def test_association_study_sorted_by_pvalue(ewas_cf):
    out = analyze.association_study(
        ewas_cf, outcomes="outcome", covariates=["age", "sex"], min_n=50
    ).toPandas()
    pv = out["pvalue"].dropna().to_numpy()
    assert np.all(np.diff(pv) >= 0)


def test_association_study_binary_outcome(ewas_cf):
    out = (
        analyze.association_study(
            ewas_cf,
            outcomes="outcome_bin",
            covariates=["age", "sex"],
            min_n=50,
        )
        .toPandas()
        .set_index("Variable")
    )
    # logistic on a signal correlated with the latent outcome
    assert out.loc["signal", "pvalue"] < 1e-6
    assert out.loc["outcome", "pvalue"] < 1e-10  # outcome itself is a strong predictor
    assert bool(out.loc["signal", "Converged"])


def _t_two_sided_p(t: float, df: float) -> float:
    """2 P(T > |t|) by Simpson quadrature of the Student-t density over
    [|t|, |t| + 60]; past that the density is below 1e-300 at the
    residual dfs used here (~1,000)."""
    x = np.linspace(abs(t), abs(t) + 60.0, 120_001)
    log_c = math.lgamma((df + 1) / 2) - math.lgamma(df / 2) - 0.5 * math.log(df * math.pi)
    f = np.exp(log_c - (df + 1) / 2 * np.log1p(x * x / df))
    h = x[1] - x[0]
    return float(2 * h / 3 * (f[0] + f[-1] + 4 * f[1:-1:2].sum() + 2 * f[2:-1:2].sum()))


def _reference_glm(X: np.ndarray, y: np.ndarray, family: str):
    """(beta, se, Wald p-values, llf) of one GLM, written out here rather
    than taken from ``functions/glm.py``. Gaussian: least squares, t
    tests, llf at scale RSS/df_resid. Logistic: Newton-Raphson, SE from
    (X'WX)^-1, z tests."""
    n, p = X.shape
    if family == "gaussian":
        beta = np.linalg.lstsq(X, y, rcond=None)[0]
        df_resid = n - p
        scale = float(((y - X @ beta) ** 2).sum()) / df_resid
        se = np.sqrt(scale * np.diag(np.linalg.inv(X.T @ X)))
        pvals = [_t_two_sided_p(b / s, df_resid) for b, s in zip(beta, se)]
        llf = -0.5 * (df_resid + n * math.log(2 * math.pi * scale))
        return beta, se, pvals, llf
    beta = np.zeros(p)
    for _ in range(100):
        mu = 1.0 / (1.0 + np.exp(-X @ beta))
        step = np.linalg.solve(X.T @ (X * (mu * (1 - mu))[:, None]), X.T @ (y - mu))
        beta = beta + step
        if np.max(np.abs(step)) < 1e-13:
            break
    mu = 1.0 / (1.0 + np.exp(-X @ beta))
    se = np.sqrt(np.diag(np.linalg.inv(X.T @ (X * (mu * (1 - mu))[:, None]))))
    pvals = [math.erfc(abs(b / s) / math.sqrt(2)) for b, s in zip(beta, se)]
    llf = float(np.sum(y * np.log(mu) + (1 - y) * np.log1p(-mu)))
    return beta, se, pvals, llf


@pytest.mark.parametrize("outcome", ["outcome", "outcome_bin"])
def test_association_study_matches_independent_reference(ewas_cf, ewas_pdf, outcome):
    """End-to-end numbers (default routes: ``olsagg`` for the Gaussian
    study, the grouped tail for the logistic one) equal a numpy
    reference that does not call the engine's fitter: Wald Beta/SE/p of
    the continuous variables and the LRT of the 3-level ``cat_var``."""
    got = analyze.association_study(
        ewas_cf,
        outcomes=outcome,
        regression_variables=["signal", "noise1", "noise2", "cat_var"],
        covariates=["age", "sex"],
        min_n=50,
    ).toPandas().set_index("Variable")
    pdf = ewas_pdf
    if outcome == "outcome":
        family, y = "gaussian", pdf["outcome"].to_numpy(float)
    else:  # Case = 1, as _encode_binary_outcome maps it
        family, y = "binomial", (pdf["outcome_bin"] == "Case").to_numpy(float)
    base = np.column_stack(
        [np.ones(len(pdf)), pdf["age"], (pdf["sex"] == "M").to_numpy(float)]
    )
    for rv in ("signal", "noise1", "noise2"):
        beta, se, pvals, _ = _reference_glm(np.column_stack([base, pdf[rv]]), y, family)
        assert got.loc[rv, "N"] == len(pdf)
        assert got.loc[rv, "Beta"] == pytest.approx(beta[-1], rel=1e-6)
        assert got.loc[rv, "SE"] == pytest.approx(se[-1], rel=1e-6)
        assert got.loc[rv, "pvalue"] == pytest.approx(pvals[-1], rel=1e-6, abs=1e-300)

    dummies = np.column_stack([(pdf["cat_var"] == lv).to_numpy(float) for lv in ("B", "C")])
    llf_f = _reference_glm(np.column_stack([base, dummies]), y, family)[3]
    llf_r = _reference_glm(base, y, family)[3]
    stat = 2 * (llf_f - llf_r)
    diff_aic = (-2 * llf_f + 2 * 5) - (-2 * llf_r + 2 * 3)
    # chi-square survival function at df = 2 is exactly exp(-stat / 2)
    assert got.loc["cat_var", "LRT_pvalue"] == pytest.approx(
        math.exp(-stat / 2), rel=1e-6, abs=1e-300
    )
    assert got.loc["cat_var", "Diff_AIC"] == pytest.approx(diff_aic, rel=1e-6)


def test_min_n_gate(ewas_cf):
    out = (
        analyze.association_study(
            ewas_cf, outcomes="outcome", covariates=["age", "sex"], min_n=5000
        )
        .toPandas()
        .set_index("Variable")
    )
    assert not bool(out.loc["signal", "Converged"])
    assert pd.isna(out.loc["signal", "pvalue"])


def test_standardize_data(ewas_cf, ewas_pdf):
    out = (
        analyze.association_study(
            ewas_cf,
            outcomes="outcome",
            covariates=["age", "sex"],
            min_n=50,
            standardize_data=True,
        )
        .toPandas()
        .set_index("Variable")
    )
    # standardized beta = raw beta * sd(x)/sd(y)
    raw = analyze.association_study(
        ewas_cf, outcomes="outcome", covariates=["age", "sex"], min_n=50
    ).toPandas().set_index("Variable")
    sd_x = ewas_pdf["signal"].std(ddof=1)
    sd_y = ewas_pdf["outcome"].std(ddof=1)
    assert out.loc["signal", "Beta"] == pytest.approx(
        raw.loc["signal", "Beta"] * sd_x / sd_y, rel=1e-9
    )


def test_report_categorical_betas(ewas_cf):
    out = analyze.association_study(
        ewas_cf,
        outcomes="outcome",
        regression_variables=["cat_var"],
        covariates=["age", "sex"],
        min_n=50,
        report_categorical_betas=True,
    ).toPandas()
    cats = set(out["Category"].dropna())
    assert cats == {"cat_var[T.B]", "cat_var[T.C]"}
    assert (out["LRT_pvalue"] < 1e-10).all()


def test_add_corrected_pvalues_matches_statsmodels_algorithm(spark):
    rng = np.random.RandomState(5)
    p = rng.rand(50)
    pdf = pd.DataFrame({"Variable": [f"v{i}" for i in range(50)], "pvalue": p})
    out = (
        analyze.add_corrected_pvalues(spark.createDataFrame(pdf))
        .toPandas()
        .set_index("Variable")
    )
    # reference algorithm in numpy (statsmodels multipletests bonferroni + fdr_bh)
    m = len(p)
    bonf = np.minimum(p * m, 1.0)
    order = np.argsort(p)
    ranked = p[order] * m / (np.arange(m) + 1)
    bh_sorted = np.minimum.accumulate(ranked[::-1])[::-1]
    bh = np.empty(m)
    bh[order] = np.minimum(bh_sorted, 1.0)
    for i in range(m):
        v = f"v{i}"
        assert out.loc[v, "pvalue_bonferroni"] == pytest.approx(bonf[i], rel=1e-12)
        assert out.loc[v, "pvalue_fdr"] == pytest.approx(bh[i], rel=1e-12)


def test_add_corrected_pvalues_with_nan(spark):
    pdf = pd.DataFrame({"Variable": ["a", "b", "c"], "pvalue": [0.01, np.nan, 0.04]})
    out = analyze.add_corrected_pvalues(spark.createDataFrame(pdf)).toPandas().set_index("Variable")
    assert out.loc["a", "pvalue_bonferroni"] == pytest.approx(0.02)  # m=2
    assert pd.isna(out.loc["b", "pvalue_bonferroni"])


def test_add_corrected_pvalues_ties_and_nan(spark):
    """Regression (VERDICT r3 item 1): tied p-values must share the BH
    cummin frame deterministically — with a NaN row alongside to pin the
    RANGE-frame/NaN interaction (NaN sorts first under desc order)."""
    pdf = pd.DataFrame(
        {
            "Variable": ["a", "b", "c", "d", "e"],
            "pvalue": [0.5, 0.5, np.nan, 0.1, 0.5],
        }
    )
    out = (
        analyze.add_corrected_pvalues(spark.createDataFrame(pdf))
        .toPandas()
        .set_index("Variable")
    )
    # m=4; ties at 0.5 share p*m/max_rank = 0.5*4/4 = 0.5
    for v in ("a", "b", "e"):
        assert out.loc[v, "pvalue_fdr"] == pytest.approx(0.5, rel=1e-12)
    assert out.loc["d", "pvalue_fdr"] == pytest.approx(0.4, rel=1e-12)  # min(0.1*4/1, 0.5)
    assert pd.isna(out.loc["c", "pvalue_fdr"])


def test_add_corrected_pvalues_groupby_ties(spark):
    """groupby dedups (group, pvalue) pairs before correcting — tied
    duplicates of one group count as ONE test and tied values across
    groups share the BH frame."""
    pdf = pd.DataFrame(
        {
            "grp": ["g1", "g1", "g2", "g3"],
            "Variable": ["a", "a2", "b", "c"],
            "pvalue": [0.5, 0.5, 0.5, 0.1],
        }
    )
    out = (
        analyze.add_corrected_pvalues(spark.createDataFrame(pdf), groupby="grp")
        .toPandas()
        .set_index("Variable")
    )
    # m=3 distinct groups; 0.5-tie across g1/g2 -> 0.5*3/3 = 0.5 for both
    for v in ("a", "a2", "b"):
        assert out.loc[v, "pvalue_fdr"] == pytest.approx(0.5, rel=1e-12)
    assert out.loc["c", "pvalue_fdr"] == pytest.approx(0.3, rel=1e-12)


def test_interaction_study(spark, ewas_cf, ewas_pdf):
    out = (
        analyze.interaction_study(
            ewas_cf,
            outcomes="outcome",
            interactions=[("signal", "noise1"), ("age", "noise2")],
            covariates=["sex"],
            min_n=50,
        )
        .toPandas()
        .set_index(["Term1", "Term2"])
    )
    # no real interactions in the generative model -> LRT p not tiny
    assert out.loc[("signal", "noise1"), "LRT_pvalue"] > 1e-4
    assert bool(out.loc[("signal", "noise1"), "Converged"])
    assert out.loc[("signal", "noise1"), "N"] == 1000


def test_interaction_study_detects_built_in_interaction(spark):
    rng = np.random.RandomState(6)
    n = 1500
    a = rng.randn(n)
    b = rng.randn(n)
    y = 1.0 + 0.5 * a + 0.5 * b + 2.0 * a * b + rng.randn(n)
    pdf = pd.DataFrame({"ID": range(n), "y": y, "a": a, "b": b})
    from clarite_python_spark.catalog import ClariteFrame, VariableCatalog

    cf = ClariteFrame(
        spark.createDataFrame(pdf),
        VariableCatalog(types={"y": "continuous", "a": "continuous", "b": "continuous"}),
    )
    out = analyze.interaction_study(cf, outcomes="y", min_n=50, report_betas=True).toPandas()
    row = out[(out.Term1 == "a") & (out.Term2 == "b")]
    assert row["LRT_pvalue"].iloc[0] < 1e-50
    assert row["Full_Var1_Var2_beta"].iloc[0] == pytest.approx(2.0, abs=0.1)


def test_binomial_contingency_matches_kernel(spark):
    """The binomial contingency suffstats path (functions/binomagg.py)
    must reproduce the grouped kernel exactly: frequency-weighted IRLS
    over cells has the same iterates as the row-level fit. Covers
    continuous low-cardinality, binary, and categorical rvs, a
    categorical covariate, and missing values."""
    rng = np.random.RandomState(17)
    n = 1500
    g = rng.binomial(2, 0.3, n).astype(float)          # continuous, 3 values
    b = rng.choice(["u", "v"], n)                       # binary rv
    c3 = rng.choice(["p", "q", "r"], n)                 # categorical rv
    sex = rng.choice(["M", "F"], n)                     # categorical covariate
    eta = -0.3 + 0.7 * g + 0.5 * (b == "v") + 0.4 * (sex == "M")
    y = np.where(rng.uniform(size=n) < 1 / (1 + np.exp(-eta)), "Case", "Control")
    pdf = pd.DataFrame(
        {"ID": range(n), "Outcome": y, "g": g, "b": b, "c3": c3, "sex": sex}
    )
    pdf.loc[::17, "g"] = np.nan  # missing values exercise complete-case N
    from clarite_python_spark.catalog import ClariteFrame, VariableCatalog

    types = {
        "Outcome": "binary",
        "g": "continuous",
        "b": "binary",
        "c3": "categorical",
        "sex": "categorical",
    }
    cf = ClariteFrame(spark.createDataFrame(pdf), VariableCatalog(types=types))
    kw = dict(outcomes="Outcome", covariates=["sex"], min_n=50)
    fast = (
        analyze.association_study(cf, **kw).toPandas().set_index("Variable").sort_index()
    )
    slow = (
        analyze.association_study(cf, use_sufficient_stats=False, **kw)
        .toPandas()
        .set_index("Variable")
        .sort_index()
    )
    assert list(fast.N) == list(slow.N)
    assert list(fast.Converged) == list(slow.Converged)
    for col in ("Beta", "SE", "Beta_pvalue", "LRT_pvalue", "Diff_AIC", "pvalue"):
        a, bb = fast[col].astype(float), slow[col].astype(float)
        mask = ~(a.isna() & bb.isna())
        assert np.allclose(a[mask], bb[mask], rtol=1e-9, atol=1e-12), col


def test_binomial_contingency_edge_cases(spark):
    """Cells past max_cells signal fallback (None); an all-null rv gets
    the kernel-identical all-NaN default row via the min_n gate."""
    from pyspark.sql import Row

    from clarite_python_spark.functions.binomagg import _fit_one_from_cells
    from clarite_python_spark.operators.analyze import _default_row

    cells = [
        Row(variable="v", value=str(i), Outcome=float(i % 2), __n=1)
        for i in range(50)
    ]
    out = _fit_one_from_cells(
        "v", "continuous", cells, "Outcome", [], {}, 1, False,
        lambda rv: _default_row(rv, "Outcome"), max_cells=10,
    )
    assert out is None  # too many cells -> grouped-kernel fallback

    # all-null rv: complete-case N = 0 < min_n -> default (all-NaN) row
    null_cells = [Row(variable="v", value=None, Outcome=1.0, __n=5)]
    out = _fit_one_from_cells(
        "v", "continuous", null_cells, "Outcome", [], {}, 10, False,
        lambda rv: _default_row(rv, "Outcome"), max_cells=256,
    )
    assert len(out) == 1 and out[0]["Converged"] is False and np.isnan(out[0]["Beta"])


def test_interaction_study_pair_batching(spark):
    """All-pairs over p=50 (1,225 pairs) must run chunked — no single
    rows x C(p,2) Expand (VERDICT r1 item 4) — and chunking must not
    change results."""
    rng = np.random.RandomState(11)
    n, p = 300, 50
    X = rng.randn(n, p)
    y = 1.0 + X[:, 0] * 0.3 + rng.randn(n)
    cols = {"ID": range(n), "y": y}
    cols.update({f"x{i}": X[:, i] for i in range(p)})
    pdf = pd.DataFrame(cols)
    from clarite_python_spark.catalog import ClariteFrame, VariableCatalog

    types = {"y": "continuous", **{f"x{i}": "continuous" for i in range(p)}}
    cf = ClariteFrame(spark.createDataFrame(pdf), VariableCatalog(types=types))
    out = analyze.interaction_study(
        cf, outcomes="y", min_n=50, pair_batch_size=100
    ).toPandas()
    assert len(out) == p * (p - 1) // 2
    # chunked == unchunked on a subset (grouped-kernel path exercised too)
    pairs = [("x0", "x1"), ("x2", "x3"), ("x4", "x5")]
    one = analyze.interaction_study(
        cf, outcomes="y", interactions=pairs, min_n=50, use_sufficient_stats=False
    ).toPandas().set_index(["Term1", "Term2"]).sort_index()
    two = analyze.interaction_study(
        cf, outcomes="y", interactions=pairs, min_n=50,
        use_sufficient_stats=False, pair_batch_size=1,
    ).toPandas().set_index(["Term1", "Term2"]).sort_index()
    assert np.allclose(
        one["LRT_pvalue"].astype(float), two["LRT_pvalue"].astype(float), rtol=1e-12
    )


def test_custom_regression_kernel(ewas_cf):
    """User extension point: a custom kernel factory runs inside the
    grouped fan-out in place of the GLM (reference accepts a custom
    Regression subclass, association_study.py:90-96)."""
    import pandas as pd

    from clarite_python_spark.operators import analyze as an

    def factory(outcome, covariates, covar_types, rv_types, family, min_n, rcb):
        def kernel(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
            rv = key[0]
            sub = pdf[[outcome, "value"]].dropna()
            r = sub[outcome].astype(float).corr(pd.to_numeric(sub["value"]))
            row = an._default_row(rv, outcome)
            row.update(Variable_type=rv_types[rv], N=len(sub), Converged=True, Beta=float(r), pvalue=0.5)
            out = pd.DataFrame([row])
            out["N"] = out["N"].astype("Int64")
            return out[[f.name for f in an.RESULT_SCHEMA.fields]]

        return kernel

    res = analyze.association_study(
        ewas_cf,
        outcomes="outcome",
        covariates=["age", "sex"],
        regression_variables=["signal", "noise1"],
        regression_kind=factory,
        min_n=50,
    ).toPandas().set_index("Variable")
    assert abs(res.loc["signal", "Beta"]) > 0.5  # correlation, not a GLM beta
    assert (res.pvalue == 0.5).all()


def test_custom_regression_kind_rejects_survey_design(ewas_cf):
    """A custom kernel factory has no survey-weighted form: combining it
    with a design is an error, not a silently unused factory."""
    from clarite_python_spark.survey import SurveyDesignSpec

    spec = SurveyDesignSpec(ewas_cf.df.selectExpr("ID", "1.0 AS w"), weights="w")
    with pytest.raises(ValueError, match="regression_kind"):
        analyze.association_study(
            ewas_cf,
            outcomes="outcome",
            covariates=["age"],
            regression_kind=lambda *args: None,
            survey_design_spec=spec,
        )


def test_get_significant_and_ewas_io(spark, tmp_path, ewas_cf):
    from clarite_python_spark.sources.io import load_ewas, save_ewas

    res = analyze.association_study(
        ewas_cf, outcomes="outcome", covariates=["age", "sex"], min_n=50
    )
    corrected = analyze.add_corrected_pvalues(res)
    sig = analyze.get_significant(corrected, pvalue=0.05, method="fdr").toPandas()
    assert "signal" in set(sig.Variable)
    assert (sig.pvalue_fdr <= 0.05).all()

    p = str(tmp_path / "ewas_res")
    save_ewas(corrected, p)
    loaded = load_ewas(spark, p)
    assert loaded.count() == corrected.count()

    import pytest as _pytest

    with _pytest.raises(ValueError, match="missing columns"):
        save_ewas(ewas_cf.df, str(tmp_path / "bad"))
    with _pytest.raises(ValueError, match="add_corrected_pvalues"):
        analyze.get_significant(res)
