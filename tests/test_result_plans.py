"""Plan and construction contracts of the study/QC result path.

- Result frames are sorted on ONE partition: no final executed plan has a
  range-partitioned exchange, whose sampling job would run the whole
  fan-out (block layout + Python kernel) a second time.
- Wide per-column plans are built as one SQL parse: the py4j round trips
  spent building a frame grow at most linearly, with a small constant, in
  the number of variables.
- Variable names that need quoting (dots, backticks, spaces) give the same
  results as plain names through the QC chain, describe and the study.
"""

from __future__ import annotations

import math
import threading
from contextlib import contextmanager

import numpy as np
import pandas as pd
import pytest
from py4j.protocol import Py4JJavaError

from clarite_python_spark.catalog import ClariteFrame, VariableCatalog
from clarite_python_spark.functions.blockcorr import block_correlations
from clarite_python_spark.operators import analyze, describe, modify


def _executed_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString().lower()


def _num_key(v):
    """Spark's ascending NULLS LAST order for doubles: numbers, NaN, null."""
    if v is None:
        return (2, 0.0)
    if isinstance(v, float) and math.isnan(v):
        return (1, 0.0)
    return (0, v)


def _assert_single_partition_sort(df, key) -> list:
    rows = df.collect()
    assert "rangepartitioning" not in _executed_plan(df)
    assert rows == sorted(rows, key=key)  # stable: ties keep their order
    return rows


@pytest.fixture(scope="module")
def grouped_cf(spark) -> ClariteFrame:
    """Binary outcome + continuous covariate: every fit runs in the
    grouped ``applyInPandas`` kernel (no contingency path)."""
    rng = np.random.RandomState(11)
    n = 240
    pdf = pd.DataFrame(
        {
            "ID": np.arange(n),
            "yb": rng.choice(["Case", "Control"], n),
            "age": rng.uniform(20, 70, n),
            "c1": rng.randn(n),
            "c2": rng.randn(n),
            "k1": rng.choice(["a", "b", "c"], n),
            "b1": rng.choice(["u", "v"], n),
        }
    )
    pdf.loc[rng.choice(n, 20, replace=False), "c2"] = None
    cat = VariableCatalog(
        types={
            "yb": "binary",
            "age": "continuous",
            "c1": "continuous",
            "c2": "continuous",
            "k1": "categorical",
            "b1": "binary",
        },
        categories={"yb": ["Case", "Control"], "k1": ["a", "b", "c"], "b1": ["u", "v"]},
    )
    return ClariteFrame(spark.createDataFrame(pdf), cat)


def test_association_study_grouped_sorts_without_range_exchange(grouped_cf):
    res = analyze.association_study(grouped_cf, outcomes="yb", covariates=["age"], min_n=10)
    rows = _assert_single_partition_sort(res, lambda r: _num_key(r["pvalue"]))
    assert {r["Variable"] for r in rows} == {"c1", "c2", "k1", "b1"}


def test_add_corrected_pvalues_groupby_sorts_without_range_exchange(grouped_cf):
    res = analyze.association_study(
        grouped_cf,
        outcomes="yb",
        covariates=["age"],
        min_n=10,
        report_categorical_betas=True,
    )
    out = analyze.add_corrected_pvalues(res, groupby="Variable")
    rows = _assert_single_partition_sort(
        out, lambda r: (_num_key(r["pvalue_fdr"]), _num_key(r["pvalue_bonferroni"]))
    )
    assert len(rows) == res.count()


def test_interaction_study_sorts_without_range_exchange(grouped_cf):
    res = analyze.interaction_study(
        grouped_cf, outcomes="yb", interactions=[("k1", "b1"), ("c1", "k1")], min_n=10
    )
    rows = _assert_single_partition_sort(res, lambda r: _num_key(r["LRT_pvalue"]))
    assert {(r["Term1"], r["Term2"]) for r in rows} == {("k1", "b1"), ("c1", "k1")}


def test_percent_na_and_freq_table_sort_without_range_exchange(grouped_cf):
    rows = _assert_single_partition_sort(
        describe.percent_na(grouped_cf), lambda r: r["variable"]
    )
    assert [r["variable"] for r in rows] == sorted(grouped_cf.variables)
    rows = _assert_single_partition_sort(
        describe.freq_table(grouped_cf), lambda r: (r["variable"], -r["count"], r["value"])
    )
    assert {r["variable"] for r in rows} == set(grouped_cf.variables)


# ---- construction budget -----------------------------------------------------


@contextmanager
def _count_py4j(spark):
    client = spark.sparkContext._gateway._gateway_client
    orig = client.send_command
    sent = [0]
    lock = threading.Lock()

    def counted(*args, **kwargs):
        with lock:
            sent[0] += 1
        return orig(*args, **kwargs)

    client.send_command = counted
    try:
        yield sent
    finally:
        client.send_command = orig


WIDE_P = 200


@pytest.fixture(scope="module")
def wide_cf(spark) -> ClariteFrame:
    rng = np.random.RandomState(5)
    n = 60
    cols = {"ID": np.arange(n), "yb": rng.choice(["Case", "Control"], n), "age": rng.randn(n)}
    types = {"yb": "binary", "age": "continuous"}
    cats = {"yb": ["Case", "Control"]}
    for i in range(WIDE_P):
        if i % 4 == 0:
            cols[f"v{i}"] = rng.choice(["a", "b", "c"], n)
            types[f"v{i}"], cats[f"v{i}"] = "categorical", ["a", "b", "c"]
        else:
            cols[f"v{i}"] = rng.randn(n)
            types[f"v{i}"] = "continuous"
    df = spark.createDataFrame(pd.DataFrame(cols))
    return ClariteFrame(df, VariableCatalog(types=types, categories=cats))


def test_wide_plans_build_in_linear_py4j_budget(spark, wide_cf):
    """Building (not collecting) the grouped study and categorizing a
    200-variable frame stays within 8 round trips per variable + 200; the
    one-``Column``-per-variable idiom costs ~35 per variable."""
    budget = 8 * WIDE_P + 200
    with _count_py4j(spark) as sent:
        analyze.association_study(wide_cf, outcomes="yb", covariates=["age"], min_n=10)
    assert sent[0] <= budget, sent[0]
    with _count_py4j(spark) as sent:
        modify.categorize(ClariteFrame(wide_cf.df))
    assert sent[0] <= budget, sent[0]


# ---- names that need quoting -------------------------------------------------

ODD = {"a_b": "a.b", "c_d": "c`d", "x_y": "x y"}


def _edge_pdf() -> pd.DataFrame:
    rng = np.random.RandomState(3)
    n = 300
    base = rng.randn(n)
    pdf = pd.DataFrame(
        {
            "ID": np.arange(n),
            "y": rng.randn(n) * 2 + 10,
            "yb": rng.choice(["Case", "Control"], n),
            "age": rng.uniform(20, 70, n),
            "a_b": base,
            "x_y": base * 0.9 + rng.randn(n) * 0.2,
            "c_d": rng.choice(["p", "q", "r"], n),
            "rare": np.where(np.arange(n) < 3, "s", "t"),
        }
    )
    pdf.loc[rng.choice(n, 15, replace=False), "a_b"] = None
    pdf.loc[5, "x_y"] = 40.0  # a gaussian outlier
    return pdf


def _run_chain(spark, pdf: pd.DataFrame) -> dict[str, pd.DataFrame]:
    cf = modify.categorize(ClariteFrame(spark.createDataFrame(pdf)))
    cf = modify.colfilter_min_n(cf, n=50)
    cf = modify.colfilter_min_cat_n(cf, n=10)
    cf = modify.remove_outliers(cf)
    out = {
        name: getattr(describe, name)(cf).toPandas()
        for name in ("percent_na", "skewness", "correlations", "freq_table")
    }
    out["association_study"] = analyze.association_study(
        cf, outcomes=["y", "yb"], covariates=["age"], min_n=50
    ).toPandas()
    out["data"] = cf.df.toPandas()
    out["types"] = pd.DataFrame(sorted(cf.catalog.types.items()), columns=["v", "t"])
    return out


def _canonical(frames: dict[str, pd.DataFrame], rename: dict[str, str]) -> dict:
    keys = {
        "percent_na": ["variable"],
        "skewness": ["variable"],
        "correlations": ["var1", "var2"],
        "freq_table": ["variable", "value"],
        "association_study": ["Outcome", "Variable"],
        "data": ["ID"],
        "types": ["v"],
    }
    out = {}
    for name, df in frames.items():
        df = df.rename(columns=rename).replace(rename)
        out[name] = df.sort_values(keys[name]).reset_index(drop=True)
    return out


def test_quoted_names_match_plain_names(spark):
    plain = _edge_pdf()
    odd = plain.rename(columns=ODD)
    got = _canonical(_run_chain(spark, odd), {v: k for k, v in ODD.items()})
    want = _canonical(_run_chain(spark, plain), {})
    assert set(want["data"].columns) >= set(ODD)  # the odd columns survived QC
    assert "rare" not in want["data"].columns  # colfilter_min_cat_n dropped it
    assert want["data"]["x_y"].isna().sum() >= 1  # remove_outliers masked one
    assert len(want["correlations"]) == 1
    for name in want:
        pd.testing.assert_frame_equal(got[name], want[name], check_exact=False, rtol=1e-9)


def test_blockcorr_rejects_duplicate_names(spark):
    df = spark.createDataFrame(pd.DataFrame({"v0": [1.0, 2.0, 3.0], "v1": [3.0, 1.0, 2.0]}))
    with pytest.raises(ValueError, match="duplicate"):
        block_correlations(df, ["v0", "v1", "v0"])


def _survey_parts(spark, names: dict[str, str]):
    """A study frame and its design: two continuous variables (the closed-form
    weighted Gaussian path for ``y``, the grouped weighted kernel for
    ``yb``) and a categorical one (the grouped weighted kernel), named
    through ``names``."""
    rng = np.random.RandomState(17)
    n = 400
    strat = np.repeat(np.arange(8), n // 8)
    psu = strat * 2 + rng.randint(0, 2, n)
    sex = rng.choice(["F", "M"], n)
    x1 = rng.randn(n)
    pdf = pd.DataFrame(
        {
            "ID": np.arange(n),
            "y": 1.5 * x1 + (sex == "M") + rng.randn(n),
            "yb": np.where(rng.rand(n) < 1 / (1 + np.exp(-x1)), "Case", "Control"),
            "sex": sex,
            names["a_b"]: x1,
            names["c_d"]: rng.randn(n),
            names["k_k"]: rng.choice(["p", "q", "r"], n),
        }
    )
    pdf.loc[rng.choice(n, 20, replace=False), names["a_b"]] = None
    design = pd.DataFrame(
        {"ID": np.arange(n), "strat": strat, "psu": psu, "w": rng.uniform(0.5, 2.0, n)}
    )
    cat = VariableCatalog(
        types={
            "y": "continuous",
            "yb": "binary",
            "sex": "binary",
            names["a_b"]: "continuous",
            names["c_d"]: "continuous",
            names["k_k"]: "categorical",
        },
        categories={"yb": ["Case", "Control"], "sex": ["F", "M"], names["k_k"]: ["p", "q", "r"]},
    )
    return ClariteFrame(spark.createDataFrame(pdf), cat), spark.createDataFrame(design)


def _survey_results(spark, names: dict[str, str]) -> pd.DataFrame:
    from clarite_python_spark.survey import SurveyDesignSpec

    cf, design_df = _survey_parts(spark, names)
    designs = {
        "cluster": SurveyDesignSpec(design_df, strata="strat", cluster="psu", nest=True, weights="w"),
        "strata": SurveyDesignSpec(design_df, strata="strat", weights="w"),
    }
    parts = []
    for label, design in designs.items():
        for outcome in ("y", "yb"):
            res = analyze.association_study(
                cf,
                outcomes=outcome,
                regression_variables=list(names.values()),
                covariates=["sex"],
                survey_design_spec=design,
                min_n=50,
            ).toPandas()
            parts.append(res.assign(design=label))
    back = {v: k for k, v in names.items()}
    out = pd.concat(parts, ignore_index=True).replace({"Variable": back})
    return out.sort_values(["design", "Outcome", "Variable"]).reset_index(drop=True)


def test_quoted_names_match_plain_names_survey(spark):
    plain = {"a_b": "a_b", "c_d": "c_d", "k_k": "k_k"}
    odd = {"a_b": "a.b", "c_d": "c`d", "k_k": "k.k"}
    want = _survey_results(spark, plain)
    got = _survey_results(spark, odd)
    assert len(want) == 12 and want["Converged"].all()
    pd.testing.assert_frame_equal(got, want, check_exact=False, rtol=1e-9)


def test_survey_grouped_tail_stays_distributed(ewas_cf):
    """A survey-Gaussian study hands its binary and categorical variables
    to the grouped tail as a lazy grouped map: the returned plan still
    holds the ``applyInPandas`` node, not rows collected to the driver."""
    from clarite_python_spark.survey import SurveyDesignSpec

    design_df = ewas_cf.df.selectExpr(
        "ID", "ID % 6 AS strat", "floor(ID / 6) % 2 AS psu", "1.0 + ID % 5 / 10 AS w"
    )
    spec = SurveyDesignSpec(design_df, strata="strat", cluster="psu", nest=True, weights="w")
    res = analyze.association_study(
        ewas_cf,
        outcomes="outcome",
        regression_variables=["signal", "noise1", "sex", "cat_var"],
        covariates=["age"],
        survey_design_spec=spec,
        min_n=50,
    )
    assert "FlatMapGroupsInPandas" in res._jdf.queryExecution().analyzed().toString()
    rows = res.collect()
    assert {r["Variable"] for r in rows} == {"signal", "noise1", "sex", "cat_var"}
    assert all(r["Converged"] for r in rows)


# ---- grouped fan-out layout ---------------------------------------------------


def _shuffle_write_records(spark, action) -> list[int]:
    """Run ``action`` and return the shuffle-write record count of every
    stage of the jobs it ran, read from the status store."""
    jsc = spark.sparkContext._jsc.sc()
    dag, store = jsc.dagScheduler(), jsc.statusStore()
    job0 = dag.nextJobId()
    action()
    job1 = dag.nextJobId()
    jsc.listenerBus().waitUntilEmpty()
    stages = set()
    for jid in range(job0, job1):
        ids = store.job(jid).stageIds()
        stages.update(ids.apply(i) for i in range(ids.size()))
    records = []
    for sid in stages:
        try:
            records.append(store.lastStageAttempt(sid).shuffleWriteRecords())
        except Py4JJavaError:  # a skipped stage never ran and has no attempt
            continue
    return records


def test_grouped_fan_out_ships_each_row_once_per_block(spark):
    """The grouped tail shuffles rows x blocks records, not one record per
    (row, variable)."""
    rng = np.random.RandomState(23)
    n, p = 2000, 60
    cols = {"ID": np.arange(n), "yb": rng.choice(["Case", "Control"], n), "age": rng.randn(n)}
    types = {"yb": "binary", "age": "continuous"}
    for i in range(p):
        cols[f"v{i}"] = rng.randn(n)
        types[f"v{i}"] = "continuous"
    cf = ClariteFrame(
        spark.createDataFrame(pd.DataFrame(cols)),
        VariableCatalog(types=types, categories={"yb": ["Case", "Control"]}),
    )
    res = analyze.association_study(cf, outcomes="yb", covariates=["age"], min_n=10)
    rows: list = []
    records = _shuffle_write_records(spark, lambda: rows.extend(res.collect()))
    assert len(rows) == p
    # four blocks per core, each at most 64 variables wide
    n_blocks = min(p, max(4 * spark.sparkContext.defaultParallelism, math.ceil(p / 64)))
    assert n_blocks < p
    assert max(records) <= n * n_blocks, (records, n_blocks)
