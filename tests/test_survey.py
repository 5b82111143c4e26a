"""Golden parity tests for the survey-weighted regression fan-out.

The oracle is the reference repo's checked-in golden CSVs, produced by
standalone R scripts using the R `survey` package
(``/root/reference/tests/r_test_output/analyze/*.csv``, generation
scripts ``tests/r_tests_ewas.R`` seed 1855) — behavioral DATA only, no
code is taken. Comparison tolerances follow the reference's own policy
(``tests/analyze/test_association_study.py:1-11``): exact-ish (1e-6)
for simple designs, rtol 1e-4 for survey-adjusted NHANES.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from clarite_python_spark.operators import analyze, modify
from clarite_python_spark.sources.io import from_csv
from clarite_python_spark.survey import SurveyDesignSpec

DATA = "/root/reference/tests/test_data_files"
GOLD = "/root/reference/tests/r_test_output/analyze"

pytestmark = pytest.mark.skipif(
    not os.path.isdir(DATA), reason="reference golden data not available"
)


def compare_golden(res: pd.DataFrame, golden_file: str, rtol: float = 1e-6) -> None:
    gold = pd.read_csv(f"{GOLD}/{golden_file}")
    res = res.set_index("Variable")
    gold = gold.set_index("Variable")
    assert sorted(res.index) == sorted(gold.index)
    gold = gold.loc[res.index]
    for col in ("Variable_type",):
        assert list(res[col]) == list(gold[col]), col
    assert list(res["N"].astype("int64")) == list(gold["N"].astype("int64"))
    for col in ("Beta", "SE", "pvalue"):
        a = res[col].astype(float).to_numpy()
        b = gold[col].astype(float).to_numpy()
        both = ~(np.isnan(a) & np.isnan(b))
        assert np.allclose(a[both], b[both], rtol=rtol, atol=0), (
            col,
            a[both],
            b[both],
        )


def run_study(cf, outcome, covariates, design, min_n=200):
    return (
        analyze.association_study(
            data=cf,
            outcomes=outcome,
            covariates=covariates,
            survey_design_spec=design,
            min_n=min_n,
        )
        .toPandas()
    )


def rotated_nhanes(cf, design):
    """The reference's 3-way covariate rotation over HI_CHOL."""
    parts = [
        run_study(cf, "HI_CHOL", ["agecat", "RIAGENDR"], design),
        run_study(cf, "HI_CHOL", ["race", "RIAGENDR"], design),
        run_study(cf, "HI_CHOL", ["race", "agecat"], design),
    ]
    return pd.concat(parts, axis=0, ignore_index=True)


@pytest.fixture(scope="module")
def fpc_cf(spark):
    spark.conf.set("spark.sql.caseSensitive", "true")  # fpc_data has nh & Nh
    cf = from_csv(spark, f"{DATA}/fpc_data.csv", index_col=None)
    cf = modify.make_continuous(cf, only=["x", "y"])
    yield cf
    spark.conf.set("spark.sql.caseSensitive", "false")


@pytest.fixture(scope="module")
def nhanes_cf(spark):
    cf = from_csv(spark, f"{DATA}/nhanes_data.csv", index_col=None)
    cf = modify.make_binary(cf, only=["HI_CHOL", "RIAGENDR"])
    cf = modify.make_categorical(cf, only=["race", "agecat"])
    return cf


def test_fpc_withoutfpc(fpc_cf):
    design = SurveyDesignSpec(
        fpc_cf.df, weights="weight", cluster="psuid", strata="stratid", nest=True
    )
    cf = modify.colfilter(fpc_cf, only=["x", "y"])
    res = run_study(cf, "y", [], design, min_n=1)
    compare_golden(res, "fpc_withoutfpc_result.csv")


def test_fpc_withfpc(fpc_cf):
    design = SurveyDesignSpec(
        fpc_cf.df, weights="weight", cluster="psuid", strata="stratid", fpc="Nh", nest=True
    )
    cf = modify.colfilter(fpc_cf, only=["x", "y"])
    res = run_study(cf, "y", [], design, min_n=1)
    compare_golden(res, "fpc_withfpc_result.csv")


def test_fpc_nostrata(spark):
    spark.conf.set("spark.sql.caseSensitive", "true")
    try:
        cf = from_csv(spark, f"{DATA}/fpc_nostrat_data.csv", index_col=None)
        cf = modify.make_continuous(cf, only=["x", "y"])
        design = SurveyDesignSpec(
            cf.df, weights="weight", cluster="psuid", strata=None, fpc="Nh", nest=True
        )
        cf = modify.colfilter(cf, only=["x", "y"])
        res = run_study(cf, "y", [], design, min_n=1)
        compare_golden(res, "fpc_withfpc_nostrat_result.csv")
    finally:
        spark.conf.set("spark.sql.caseSensitive", "false")


@pytest.mark.parametrize(
    "data_file,design_kw,golden",
    [
        (
            "apistrat_data.csv",
            dict(weights="pw", cluster=None, strata="stype", fpc="fpc"),
            "api_apistrat_result.csv",
        ),
        (
            "apiclus1_data.csv",
            dict(weights="pw", cluster="dnum", strata=None, fpc="fpc"),
            "api_apiclus1_result.csv",
        ),
    ],
)
def test_api_designs(spark, data_file, design_kw, golden):
    cf = from_csv(spark, f"{DATA}/{data_file}", index_col=None)
    cf = modify.make_continuous(cf, only=["api00", "ell", "meals", "mobility"])
    design = SurveyDesignSpec(cf.df, **design_kw)
    cf = modify.colfilter(cf, only=["api00", "ell", "meals", "mobility"])
    parts = [
        run_study(cf, "api00", ["meals", "mobility"], design, min_n=1),
        run_study(cf, "api00", ["ell", "mobility"], design, min_n=1),
        run_study(cf, "api00", ["ell", "meals"], design, min_n=1),
    ]
    res = pd.concat(parts, axis=0, ignore_index=True)
    compare_golden(res, golden)


def test_api_noweights_glm(spark):
    """Unweighted GLM parity on the api population data."""
    cf = from_csv(spark, f"{DATA}/apipop_data.csv", index_col=None)
    cf = modify.make_continuous(cf, only=["api00", "ell", "meals", "mobility"])
    cf = modify.colfilter(cf, only=["api00", "ell", "meals", "mobility"])
    parts = [
        analyze.association_study(
            data=cf, outcomes="api00", covariates=c, min_n=1
        ).toPandas()
        for c in (["meals", "mobility"], ["ell", "mobility"], ["ell", "meals"])
    ]
    res = pd.concat(parts, axis=0, ignore_index=True)
    compare_golden(res, "api_apipop_result.csv")


def test_nhanes_noweights_glm(nhanes_cf):
    cf = modify.colfilter(nhanes_cf, only=["HI_CHOL", "RIAGENDR", "race", "agecat"])
    parts = [
        analyze.association_study(
            data=cf, outcomes="HI_CHOL", covariates=c
        ).toPandas()
        for c in (["agecat", "RIAGENDR"], ["race", "RIAGENDR"], ["race", "agecat"])
    ]
    res = pd.concat(parts, axis=0, ignore_index=True)
    compare_golden(res, "nhanes_noweights_result.csv", rtol=1e-5)


def test_nhanes_fulldesign(nhanes_cf):
    design = SurveyDesignSpec(
        nhanes_cf.df,
        weights="WTMEC2YR",
        cluster="SDMVPSU",
        strata="SDMVSTRA",
        fpc=None,
        nest=True,
    )
    cf = modify.colfilter(nhanes_cf, only=["HI_CHOL", "RIAGENDR", "race", "agecat"])
    res = rotated_nhanes(cf, design)
    compare_golden(res, "nhanes_complete_result.csv", rtol=1e-4)


def test_nhanes_weightsonly(nhanes_cf):
    design = SurveyDesignSpec(nhanes_cf.df, weights="WTMEC2YR")
    cf = modify.colfilter(nhanes_cf, only=["HI_CHOL", "RIAGENDR", "race", "agecat"])
    res = rotated_nhanes(cf, design)
    compare_golden(res, "nhanes_weightsonly_result.csv", rtol=1e-4)


def test_nhanes_fulldesign_withna(spark):
    cf = from_csv(spark, f"{DATA}/nhanes_NAs_data.csv", index_col=None)
    cf = modify.make_binary(cf, only=["HI_CHOL", "RIAGENDR"])
    cf = modify.make_categorical(cf, only=["race", "agecat"])
    design = SurveyDesignSpec(
        cf.df,
        weights="WTMEC2YR",
        cluster="SDMVPSU",
        strata="SDMVSTRA",
        fpc=None,
        nest=True,
    )
    cf2 = modify.colfilter(cf, only=["HI_CHOL", "RIAGENDR", "race", "agecat"])
    res = rotated_nhanes(cf2, design)
    compare_golden(res, "nhanes_complete_withna_result.csv", rtol=1e-4)


def test_nhanes_subset_category(nhanes_cf):
    design = SurveyDesignSpec(
        nhanes_cf.df,
        weights="WTMEC2YR",
        cluster="SDMVPSU",
        strata="SDMVSTRA",
        fpc=None,
        nest=True,
    )
    # pandas semantics: NaN != "(19,39]" keeps NA rows -> null-safe negation
    design.subset(
        nhanes_cf.df, ~F.col("agecat").cast("string").eqNullSafe("(19,39]")
    )
    cf = modify.colfilter(nhanes_cf, only=["HI_CHOL", "RIAGENDR", "race", "agecat"])
    res = rotated_nhanes(cf, design)
    compare_golden(res, "nhanes_complete_result_subset_cat.csv", rtol=1e-3)


def test_nhanes_subset_continuous(spark):
    cf = from_csv(spark, f"{DATA}/nhanes_data_subset.csv", index_col=None)
    cf = modify.make_binary(cf, only=["HI_CHOL", "RIAGENDR"])
    cf = modify.make_categorical(cf, only=["race", "agecat"])
    design = SurveyDesignSpec(
        cf.df,
        weights="WTMEC2YR",
        cluster="SDMVPSU",
        strata="SDMVSTRA",
        fpc=None,
        nest=True,
        drop_unweighted=True,
    )
    design.subset(cf.df, F.col("subset") > 0)
    cf = modify.colfilter(cf, only=["HI_CHOL", "RIAGENDR", "race", "agecat"])
    res = rotated_nhanes(cf, design)
    compare_golden(res, "nhanes_complete_result_subset_cont.csv", rtol=1e-4)


@pytest.mark.parametrize(
    "single_cluster,golden",
    [
        ("certainty", "nhanes_certainty_result.csv"),
        ("adjust", "nhanes_adjust_result.csv"),
        ("average", "nhanes_average_result.csv"),
    ],
)
def test_nhanes_lonely(spark, single_cluster, golden):
    cf = from_csv(spark, f"{DATA}/nhanes_lonely_data.csv", index_col=None)
    cf = modify.make_binary(cf, only=["HI_CHOL", "RIAGENDR"])
    cf = modify.make_categorical(cf, only=["race", "agecat"])
    design = SurveyDesignSpec(
        cf.df,
        weights="WTMEC2YR",
        cluster="SDMVPSU",
        strata="SDMVSTRA",
        fpc=None,
        nest=True,
        single_cluster=single_cluster,
    )
    cf = modify.colfilter(cf, only=["HI_CHOL", "RIAGENDR", "race", "agecat"])
    res = rotated_nhanes(cf, design)
    compare_golden(res, golden, rtol=1e-4)


def test_nhanes_realistic_multiweight(spark):
    """Multi-weight design (per-variable weights) + missing values
    (reference test_nhanes_realistic): variables with missing weights and
    no drop_unweighted produce all-NaN error rows."""
    from clarite_python_spark.sources.io import from_tsv

    cf = from_tsv(spark, f"{DATA}/nhanes_real.txt", index_col="ID")
    survey_cols = ["SDMVPSU", "SDMVSTRA", "WTMEC4YR", "WTSHM4YR", "WTSVOC4Y"]
    design = SurveyDesignSpec(
        cf.df.select("ID", *survey_cols),
        weights={
            "RHQ570": "WTMEC4YR",
            "first_degree_support": "WTMEC4YR",
            "URXUPT": "WTSHM4YR",
            "LBXV3A": "WTSVOC4Y",
            "LBXBEC": "WTMEC4YR",
        },
        cluster="SDMVPSU",
        strata="SDMVSTRA",
        fpc=None,
        nest=True,
    )
    cf = modify.colfilter(cf, skip=survey_cols)
    cf = modify.make_binary(
        cf,
        only=[
            "RHQ570",
            "first_degree_support",
            "SDDSRVYR",
            "female",
            "black",
            "mexican",
            "other_hispanic",
            "other_eth",
        ],
    )
    cf = modify.make_categorical(cf, only=["SES_LEVEL"])
    res = analyze.association_study(
        data=cf,
        outcomes="BMXBMI",
        covariates=[
            "SES_LEVEL",
            "SDDSRVYR",
            "female",
            "black",
            "mexican",
            "other_hispanic",
            "other_eth",
            "RIDAGEYR",
        ],
        survey_design_spec=design,
    ).toPandas()
    compare_golden(res, "nhanes_real_result.csv", rtol=1e-4)


def test_nhanes_subset_singleclusters(spark):
    """Subset that leaves single clusters in some strata — full-design
    constants keep the variance finite (reference
    test_nhanes_subset_singleclusters)."""
    from clarite_python_spark.sources.io import from_tsv

    cf = from_tsv(spark, f"{DATA}/nhanes_subset/data.txt")
    design_cf = from_tsv(spark, f"{DATA}/nhanes_subset/design_data.txt")
    # reference restricts the design frame to the data's rows first
    design_df = design_cf.df.join(cf.df.select("ID"), on="ID", how="left_semi")
    cf = modify.make_binary(cf, only=["LBXHBC", "black", "female"])
    cf = modify.make_categorical(cf, only=["SES_LEVEL", "SDDSRVYR"])
    design = SurveyDesignSpec(
        design_df,
        weights="WTMEC4YR",
        cluster="SDMVPSU",
        strata="SDMVSTRA",
        fpc=None,
        nest=True,
    )
    design.subset(cf.df, F.col("black") == 1)
    cf = modify.colfilter(cf, skip=["black"])
    res = analyze.association_study(
        data=cf,
        outcomes="LBXLYPCT",
        covariates=["female", "SES_LEVEL", "RIDAGEYR", "SDDSRVYR", "BMXBMI"],
        survey_design_spec=design,
        min_n=50,
    ).toPandas()
    compare_golden(res, "nhanes_subset_result.csv", rtol=1e-4)


def test_report_categorical_betas_weighted(nhanes_cf):
    design = SurveyDesignSpec(
        nhanes_cf.df, weights="WTMEC2YR", cluster="SDMVPSU", strata="SDMVSTRA", nest=True
    )
    cf = modify.colfilter(nhanes_cf, only=["HI_CHOL", "RIAGENDR", "race", "agecat"])
    plain = run_study(cf, "HI_CHOL", ["agecat", "RIAGENDR"], design)
    betas = (
        analyze.association_study(
            data=cf,
            outcomes="HI_CHOL",
            covariates=["agecat", "RIAGENDR"],
            survey_design_spec=design,
            report_categorical_betas=True,
        )
        .toPandas()
    )
    # one row per non-reference category, all sharing the LRT pvalue
    race = betas[betas.Variable == "race"]
    assert len(race) == 3
    assert race.Category.str.startswith("race[T.").all()
    assert np.allclose(race.LRT_pvalue, plain.loc[plain.Variable == "race", "pvalue"].iloc[0])
    assert race.Beta.notna().all() and race.SE.notna().all()


def test_single_cluster_fail_raises(spark):
    cf = from_csv(spark, f"{DATA}/nhanes_lonely_data.csv", index_col=None)
    cf = modify.make_binary(cf, only=["HI_CHOL", "RIAGENDR"])
    cf = modify.make_categorical(cf, only=["race", "agecat"])
    design = SurveyDesignSpec(
        cf.df,
        weights="WTMEC2YR",
        cluster="SDMVPSU",
        strata="SDMVSTRA",
        nest=True,
        single_cluster="fail",
    )
    with pytest.raises(ValueError, match="single clusters"):
        design.constants()


def test_design_validation(nhanes_cf):
    design = SurveyDesignSpec(
        nhanes_cf.df, weights="WTMEC2YR", cluster="SDMVPSU", strata="SDMVSTRA", nest=True
    )
    err = design.validate(nhanes_cf)  # data still contains design cols
    assert err is not None and "should not be included" in err


# ---------------------------------------------------------------------------
# weighted sufficient-stats path (functions/wolsagg.py) vs the grouped kernel
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def nhanes_real_cf(spark):
    from clarite_python_spark.sources.io import from_tsv

    return from_tsv(spark, f"{DATA}/nhanes_real.txt", index_col="ID")


def _real_study(cf, design, **kw):
    cf = modify.colfilter(
        cf, skip=["SDMVPSU", "SDMVSTRA", "WTMEC4YR", "WTSHM4YR", "WTSVOC4Y"]
    )
    cf = modify.make_binary(cf, only=["RHQ570", "first_degree_support", "SDDSRVYR",
                                      "female", "black", "mexican",
                                      "other_hispanic", "other_eth"])
    cf = modify.make_categorical(cf, only=["SES_LEVEL"])
    return (
        analyze.association_study(
            data=cf,
            outcomes="BMXBMI",
            covariates=["SES_LEVEL", "SDDSRVYR", "female", "black", "mexican",
                        "other_hispanic", "other_eth", "RIDAGEYR"],
            survey_design_spec=design,
            **kw,
        )
        .toPandas()
        .set_index("Variable")
        .sort_index()
    )


@pytest.mark.parametrize("subset", [False, True])
def test_weighted_suffstats_matches_kernel(spark, nhanes_real_cf, subset):
    """The per-cluster sufficient-stats path is the same weighted OLS +
    sandwich as the grouped kernel — near machine-precision agreement,
    including under a subset (absent clusters keep zero score rows)."""
    cf = nhanes_real_cf

    def mkdesign():
        d = SurveyDesignSpec(
            cf.df.select("ID", "SDMVPSU", "SDMVSTRA", "WTMEC4YR", "WTSHM4YR", "WTSVOC4Y"),
            weights={
                "RHQ570": "WTMEC4YR",
                "first_degree_support": "WTMEC4YR",
                "URXUPT": "WTSHM4YR",
                "LBXV3A": "WTSVOC4Y",
                "LBXBEC": "WTMEC4YR",
            },
            cluster="SDMVPSU",
            strata="SDMVSTRA",
            fpc=None,
            nest=True,
        )
        if subset:
            d.subset(cf.df.select("ID", "RIDAGEYR"), F.col("RIDAGEYR") > 21)
        return d

    fast = _real_study(cf, mkdesign())
    slow = _real_study(cf, mkdesign(), use_sufficient_stats=False)
    assert list(fast.index) == list(slow.index)
    assert list(fast.N.astype("Int64")) == list(slow.N.astype("Int64"))
    assert list(fast.Weight) == list(slow.Weight)
    for col in ("Beta", "SE", "pvalue"):
        a = fast[col].astype(float).to_numpy()
        b = slow[col].astype(float).to_numpy()
        both = ~(np.isnan(a) & np.isnan(b))
        assert np.allclose(a[both], b[both], rtol=1e-9, atol=1e-12), (col, a, b)


def test_suffstats_numeric_categorical_covariate_with_nulls(spark):
    """Regression test: an int-coded categorical covariate whose column
    carries nulls arrives in pandas as float64 ("1.0") while the catalog
    level is the int ("1") — the suffstats dummy match must not silently
    zero out (string-equality bug caught on nhanes_real SES_LEVEL)."""
    rng = np.random.RandomState(3)
    n = 500
    ses = rng.choice([0, 1, 2], n).astype(float)
    ses[:5] = np.nan
    x = rng.normal(size=n)
    y = 2.0 * x + 3.0 * (ses == 2) + rng.normal(size=n)
    pdf = pd.DataFrame({"ID": np.arange(n), "y": y, "x": x, "ses": ses})
    from clarite_python_spark.catalog import ClariteFrame, VariableCatalog

    cf = ClariteFrame(
        spark.createDataFrame(pdf),
        VariableCatalog(types={"y": "continuous", "x": "continuous", "ses": "categorical"}),
    )
    kw = dict(outcomes="y", covariates=["ses"], regression_variables=["x"], min_n=50)
    fast = analyze.association_study(cf, **kw).toPandas().set_index("Variable")
    slow = (
        analyze.association_study(cf, use_sufficient_stats=False, **kw)
        .toPandas()
        .set_index("Variable")
    )
    for col in ("Beta", "SE", "pvalue"):
        assert np.allclose(
            fast[col].astype(float), slow[col].astype(float), rtol=1e-9
        ), col
    assert fast.loc["x", "Beta"] == pytest.approx(2.0, abs=0.2)


# --------------------------------------------------------------------------
# jackknife vcov (reference survey_model.py:174-208 — implemented there but
# never selected by fit(); exposed here via vcov_method="jackknife")
# --------------------------------------------------------------------------


def test_jackknife_matches_independent_wls(fpc_cf):
    # fpc_cf's lazy plan reads case-colliding headers (nh/Nh); the conf is
    # session-wide and an earlier test resets it, so set it again here.
    fpc_cf.df.sparkSession.conf.set("spark.sql.caseSensitive", "true")
    design = SurveyDesignSpec(
        fpc_cf.df, weights="weight", cluster="psuid", strata="stratid", nest=True
    )
    cf = modify.colfilter(fpc_cf, only=["x", "y"])
    res = (
        analyze.association_study(
            data=cf,
            outcomes="y",
            covariates=[],
            survey_design_spec=design,
            min_n=1,
            vcov_method="jackknife",
        )
        .toPandas()
        .set_index("Variable")
    )
    # independent delete-1-cluster jackknife on the same data, computed
    # with plain pandas/numpy WLS (different code path from the kernel)
    pdf = pd.read_csv(f"{DATA}/fpc_data.csv")
    pdf["clust"] = pdf["stratid"].astype(str) + "/" + pdf["psuid"].astype(str)  # nest=True
    w = (pdf["weight"] / pdf["weight"].mean()).to_numpy(dtype=float)
    X = np.column_stack([np.ones(len(pdf)), pdf["x"].to_numpy(dtype=float)])
    y = pdf["y"].to_numpy(dtype=float)

    def wls(wvec):
        sq = np.sqrt(wvec)
        return np.linalg.lstsq(X * sq[:, None], y * sq, rcond=None)[0]

    full = wls(w)
    clusters = sorted(pdf["clust"].unique())
    strat_of = pdf.groupby("clust")["stratid"].first().to_dict()
    nh_of = pdf.groupby("stratid")["clust"].nunique().to_dict()
    reps = []
    scales = []
    for c in clusters:
        s = strat_of[c]
        nh = float(nh_of[s])
        wrep = w.copy()
        wrep[(pdf["stratid"] == s).to_numpy()] *= nh / (nh - 1.0)
        wrep[(pdf["clust"] == c).to_numpy()] = 0.0
        reps.append(wls(wrep) - full)
        scales.append(np.sqrt((nh - 1.0) / nh))
    reps = np.asarray(reps) * np.asarray(scales)[:, None]
    vcov = reps.T @ reps
    expected_se = np.sqrt(vcov[1, 1])
    assert res.loc["x", "Beta"] == pytest.approx(full[1], rel=1e-9)
    assert res.loc["x", "SE"] == pytest.approx(expected_se, rel=1e-9)
    # jackknife and linearization should agree to first order here
    lin = (
        analyze.association_study(
            data=cf,
            outcomes="y",
            covariates=[],
            survey_design_spec=design,
            min_n=1,
        )
        .toPandas()
        .set_index("Variable")
    )
    assert res.loc["x", "SE"] == pytest.approx(lin.loc["x", "SE"], rel=0.5)
    fpc_cf.df.sparkSession.conf.set("spark.sql.caseSensitive", "false")


def test_average_rescale_uses_design_level_strata():
    """single_cluster='average' must scale by design-level n_strat
    (reference survey_model.py:146-148 uses design.n_strat), not the
    strata observed in this variable's complete cases: dropping stratum C
    entirely from the fit keeps the factor at 3/(3-1)."""
    from clarite_python_spark.functions.wglm import fit_weighted_glm, sandwich_vcov

    rng = np.random.RandomState(3)
    # design: strata A (a1,a2), B (b1,b2), C (c1 — lonely); fit covers A,B only
    strat = np.asarray(["A"] * 6 + ["B"] * 6, dtype=object)
    clust = np.asarray(
        ["a1"] * 3 + ["a2"] * 3 + ["b1"] * 3 + ["b2"] * 3, dtype=object
    )
    X = np.column_stack([np.ones(12), rng.randn(12)])
    y = 1.0 + 2.0 * X[:, 1] + rng.randn(12)
    w = np.ones(12)
    fit = fit_weighted_glm(X, y, w, "gaussian")
    constants = {
        "has_strata": True,
        "has_cluster": True,
        "single_cluster": "average",
        "clusters": ["a1", "a2", "b1", "b2", "c1"],
        "strat_for_clust": {"a1": "A", "a2": "A", "b1": "B", "b2": "B", "c1": "C"},
        "clust_per_strat": {"A": 2, "B": 2, "C": 1},
        "fpc_for_clust": {},
    }
    vcov = sandwich_vcov(fit, strat, clust, constants)
    # independent computation with the design-level 3/(3-1) factor
    jdata = np.zeros((5, 2))
    for i, c in enumerate(constants["clusters"]):
        jdata[i] = fit.score[clust == c].sum(axis=0)
    for s in ("A", "B", "C"):
        rows = np.asarray(
            [constants["strat_for_clust"][c] == s for c in constants["clusters"]]
        )
        jdata[rows] -= jdata[rows].mean(axis=0)
    jdata *= np.sqrt(3.0 / 2.0)  # design-level n_strat=3, n_single=1
    nh = np.asarray([2.0, 2.0, 2.0, 2.0, 1.0])
    mh = np.where(nh > 1, np.sqrt(nh / np.maximum(nh - 1.0, 1.0)), 1.0)
    jdata = jdata * mh[:, None]
    expected = fit.a_inv @ (jdata.T @ jdata) @ fit.a_inv.T
    assert np.allclose(vcov, expected, rtol=1e-12)


def test_jackknife_falls_back_when_replicate_diverges(monkeypatch):
    """A non-converged jackknife replicate must not silently pollute the
    variance: the kernel falls back to the linearized sandwich."""
    from clarite_python_spark.functions import wglm

    rng = np.random.RandomState(4)
    strat = np.asarray(["A"] * 6 + ["B"] * 6, dtype=object)
    clust = np.asarray(
        ["a1"] * 3 + ["a2"] * 3 + ["b1"] * 3 + ["b2"] * 3, dtype=object
    )
    X = np.column_stack([np.ones(12), rng.randn(12)])
    y = 1.0 + 2.0 * X[:, 1] + rng.randn(12)
    w = np.ones(12)
    fit = wglm.fit_weighted_glm(X, y, w, "gaussian")
    constants = {
        "has_strata": True,
        "has_cluster": True,
        "single_cluster": "fail",
        "clusters": ["a1", "a2", "b1", "b2"],
        "strat_for_clust": {"a1": "A", "a2": "A", "b1": "B", "b2": "B"},
        "clust_per_strat": {"A": 2, "B": 2},
        "fpc_for_clust": {},
    }
    real_fit = wglm.fit_weighted_glm

    def diverging(*a, **k):
        out = real_fit(*a, **k)
        return wglm.WeightedGLMFit(
            out.params, out.names, out.mu, out.deviance, False, out.a_inv, out.score
        )

    monkeypatch.setattr(wglm, "fit_weighted_glm", diverging)
    vcov = wglm.jackknife_vcov(X, y, w, "gaussian", fit, strat, clust, constants)
    expected = wglm.sandwich_vcov(fit, strat, clust, constants)
    assert np.allclose(vcov, expected, rtol=1e-12)


def test_jackknife_requires_cluster_design(nhanes_cf):
    design = SurveyDesignSpec(nhanes_cf.df, weights="WTMEC2YR")
    with pytest.raises(ValueError, match="cluster"):
        analyze.association_study(
            data=nhanes_cf,
            outcomes="HI_CHOL",
            covariates=["race", "agecat"],
            survey_design_spec=design,
            vcov_method="jackknife",
        )


@pytest.mark.parametrize(
    "design_kw",
    [
        dict(weights="pw", cluster=None, strata="stype", fpc="fpc"),  # strata-only
        dict(weights="pw"),  # weights-only
    ],
    ids=["strata_only", "weights_only"],
)
def test_gaussian_nocluster_suffstats_matches_kernel(spark, design_kw):
    """No-cluster Gaussian suffstats (two-pass: Grams -> fit, then
    w^2 e^2 z z' score moments -> sandwich) must reproduce the grouped
    kernel at near machine precision (functions/wolsagg.py:
    weighted_gaussian_nocluster_rows)."""
    cf = from_csv(spark, f"{DATA}/apistrat_data.csv", index_col=None)
    cf = modify.make_continuous(cf, only=["api00", "ell", "meals", "mobility"])
    data = modify.colfilter(cf, only=["api00", "ell", "meals", "mobility"])

    def run(use_suff):
        return (
            analyze.association_study(
                data=data,
                outcomes="api00",
                covariates=["meals", "mobility"],
                survey_design_spec=SurveyDesignSpec(cf.df, **design_kw),
                min_n=1,
                use_sufficient_stats=use_suff,
            )
            .toPandas()
            .set_index("Variable")
            .sort_index()
        )

    fast, slow = run(True), run(False)
    assert list(fast.index) == list(slow.index)
    assert list(fast["N"]) == list(slow["N"])
    for col in ("Beta", "SE", "pvalue"):
        a = fast[col].astype(float).to_numpy()
        b = slow[col].astype(float).to_numpy()
        both = ~(np.isnan(a) & np.isnan(b))
        assert np.allclose(a[both], b[both], rtol=1e-9), (col, a, b)


def test_weighted_suffstats_5000_psu_design_matches_kernel(spark):
    """Scale acceptance for the segment-sum accumulator (VERDICT round 5
    task 6): a synthetic 5,000-PSU / 50-strata design must take the
    suffstats path (gate now 16,384) and match the grouped kernel at
    rtol 1e-6."""
    from clarite_python_spark.catalog import ClariteFrame, VariableCatalog

    rng = np.random.RandomState(42)
    n = 20_000
    psu = rng.randint(0, 5000, n)
    strat = psu % 50  # nested: each PSU sits in one stratum
    w = rng.uniform(0.5, 3.0, n)
    x1 = rng.normal(size=n)
    x2 = rng.normal(size=n) + 0.05 * strat
    cov = rng.normal(size=n)
    y = 1.5 * x1 - 0.8 * x2 + 0.3 * cov + rng.normal(size=n)
    x1[rng.choice(n, 300, replace=False)] = np.nan  # exercise masking
    pdf = pd.DataFrame(
        {"ID": np.arange(n), "y": y, "x1": x1, "x2": x2, "cov": cov,
         "psu": psu, "strat": strat, "w": w}
    )
    sdf = spark.createDataFrame(pdf)
    cf = ClariteFrame(
        sdf.select("ID", "y", "x1", "x2", "cov"),
        VariableCatalog(types={c: "continuous" for c in ["y", "x1", "x2", "cov"]}),
    )

    def run(use_suff):
        design = SurveyDesignSpec(
            sdf.select("ID", "psu", "strat", "w"),
            weights="w", cluster="psu", strata="strat", nest=True,
        )
        return (
            analyze.association_study(
                data=cf, outcomes="y", covariates=["cov"],
                survey_design_spec=design, min_n=50,
                use_sufficient_stats=use_suff,
            )
            .toPandas().set_index("Variable").sort_index()
        )

    fast, slow = run(True), run(False)
    assert list(fast.index) == list(slow.index) == ["x1", "x2"]
    assert list(fast["N"]) == list(slow["N"])
    for col in ("Beta", "SE", "pvalue"):
        a = fast[col].astype(float).to_numpy()
        b = slow[col].astype(float).to_numpy()
        assert np.allclose(a, b, rtol=1e-6), (col, a, b)


def test_gaussian_jackknife_suffstats_matches_kernel(spark, nhanes_real_cf):
    """Closed-form jackknife replicates from per-cluster Grams
    (wolsagg, VERDICT round-5 task 7) must reproduce the kernel's
    row-level replicate refits at near machine precision."""
    cf = nhanes_real_cf

    def mkdesign():
        return SurveyDesignSpec(
            cf.df.select("ID", "SDMVPSU", "SDMVSTRA", "WTMEC4YR", "WTSHM4YR", "WTSVOC4Y"),
            weights={
                "RHQ570": "WTMEC4YR",
                "first_degree_support": "WTMEC4YR",
                "URXUPT": "WTSHM4YR",
                "LBXV3A": "WTSVOC4Y",
                "LBXBEC": "WTMEC4YR",
            },
            cluster="SDMVPSU",
            strata="SDMVSTRA",
            fpc=None,
            nest=True,
        )

    fast = _real_study(cf, mkdesign(), vcov_method="jackknife")
    slow = _real_study(cf, mkdesign(), vcov_method="jackknife", use_sufficient_stats=False)
    assert list(fast.index) == list(slow.index)
    assert list(fast.N.astype("Int64")) == list(slow.N.astype("Int64"))
    for col in ("Beta", "SE", "pvalue"):
        a = fast[col].astype(float).to_numpy()
        b = slow[col].astype(float).to_numpy()
        both = ~(np.isnan(a) & np.isnan(b))
        assert np.allclose(a[both], b[both], rtol=1e-9, atol=1e-12), (col, a, b)
