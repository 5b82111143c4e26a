"""The grouped fan-out's block layout: every per-variable kernel gets the
same input the per-variable long form gives it, so ``association_study``
equals the kernel run driver-side, one variable at a time, on edge inputs
(mixed types, a dotted name, missing values, an all-null variable and a
single-level categorical)."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import types as T

from clarite_python_spark.catalog import ClariteFrame, VariableCatalog, qname
from clarite_python_spark.functions.glm import BINOMIAL, GAUSSIAN
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


def _long_inputs(cf: ClariteFrame, outcome: str) -> tuple[pd.DataFrame, pd.DataFrame]:
    """The id columns as the fan-out encodes them, and every variable cast
    to strings exactly as the long form carried it."""
    ids = cf.df.select("ID", outcome, *COVARIATES).toPandas()
    if TYPES[outcome] == "binary":
        ids[outcome] = ids[outcome].map(analyze._encode_binary_outcome(LEVELS[outcome]))
    ids[outcome] = ids[outcome].astype(float)
    values = cf.df.selectExpr(
        "ID", *[f"CAST({qname(v)} AS STRING) AS {qname(v)}" for v in RVS]
    ).toPandas()
    return ids, values


def _driver_side(kernel, ids: pd.DataFrame, values: pd.DataFrame) -> pd.DataFrame:
    parts = [
        kernel((rv,), ids.assign(variable=rv, value=values[rv].to_numpy(dtype=object)))
        for rv in RVS
    ]
    return pd.concat([p for p in parts if len(p)], ignore_index=True)


def _canonical(df: pd.DataFrame) -> pd.DataFrame:
    out = df.assign(Category=df["Category"].fillna(""))
    return out.sort_values(["Variable", "Category"]).reset_index(drop=True)


def _assert_same_rows(got: pd.DataFrame, want: pd.DataFrame) -> None:
    got, want = _canonical(got), _canonical(want)
    assert len(got) == len(want)
    for col in ("Variable", "Outcome", "Category", "Variable_type", "Weight", "Converged"):
        assert got[col].tolist() == want[col].tolist(), col
    assert got["N"].astype("Int64").tolist() == want["N"].astype("Int64").tolist()
    for col in ("Beta", "SE", "Beta_pvalue", "LRT_pvalue", "Diff_AIC", "pvalue"):
        a = got[col].to_numpy(dtype=float)
        b = want[col].to_numpy(dtype=float)
        assert np.allclose(a, b, rtol=1e-10, atol=1e-14, equal_nan=True), (col, a, b)


@pytest.mark.parametrize("report_categorical_betas", [False, True])
@pytest.mark.parametrize("outcome", ["y", "yb"])
def test_block_layout_matches_driver_side_kernel(
    edge_cf, narrow_blocks, outcome, report_categorical_betas
):
    got = analyze.association_study(
        edge_cf,
        outcomes=outcome,
        regression_variables=RVS,
        covariates=COVARIATES,
        min_n=MIN_N,
        report_categorical_betas=report_categorical_betas,
        use_sufficient_stats=False,
    ).toPandas()
    kernel = analyze._make_assoc_kernel(
        outcome,
        COVARIATES,
        {c: TYPES[c] for c in COVARIATES},
        {v: TYPES[v] for v in RVS},
        GAUSSIAN if TYPES[outcome] == "continuous" else BINOMIAL,
        MIN_N,
        report_categorical_betas,
    )
    want = _driver_side(kernel, *_long_inputs(edge_cf, outcome))
    assert want["Converged"].sum() >= 5  # the fits are real, not default rows
    _assert_same_rows(got, want)


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
