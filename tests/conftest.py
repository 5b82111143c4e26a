from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import SparkSession

from clarite_python_spark.catalog import ClariteFrame, VariableCatalog

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    s = (
        SparkSession.builder.appName("clarite-tests")
        # local[8]: the suite's wall time is dominated by a handful of
        # compute-bound scale pins (5k-column blockcorr, 1,225-pair
        # interaction chunking, GWAS-width IRLS); at local[4] they left
        # most of the verify box idle and the full suite outgrew the
        # driver's verification window (VERDICT r13 gate 2). Shuffle
        # partitions stay 8 — plan-pinned tests see identical shapes.
        .master("local[8]")
        .config("spark.driver.memory", "6g")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # mirror get_spark(): see session.py — the inferred filter would
        # re-evaluate expensive generator children (gram hashes) twice
        .config(
            "spark.sql.optimizer.excludedRules",
            "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate",
        )
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    # spark.driver.memory only takes effect when this fixture launches the
    # JVM; if a session already existed it silently keeps the old heap and
    # the scale pins can OOM at local[8] — fail loudly instead
    assert s.sparkContext.getConf().get("spark.driver.memory") == "6g", (
        "spark.driver.memory is not 6g: a SparkSession was started before the "
        "test fixture, so its settings did not apply"
    )
    yield s
    s.stop()


@pytest.fixture(scope="session")
def mixed_cf(spark) -> ClariteFrame:
    """A small frame covering every CLARITE type, with NAs."""
    rng = np.random.RandomState(7)
    n = 400
    pdf = pd.DataFrame(
        {
            "ID": np.arange(n),
            "const1": 1.0,
            "bin1": rng.choice(["a", "b"], n),
            "cat1": rng.choice(["x", "y", "z", "w"], n),
            "cont1": rng.randn(n) * 10 + 50,
            "cont2": rng.rand(n),
            "mostly_na": [float(i) if i < 10 else None for i in range(n)],
            "with_zeros": [0.0] * 380 + list(rng.rand(20)),
            "strcol": [f"s{i}" for i in range(n)],
        }
    )
    pdf.loc[rng.choice(n, 30, replace=False), "cont1"] = None
    df = spark.createDataFrame(pdf)
    return ClariteFrame(df)


@pytest.fixture(scope="session")
def ewas_pdf() -> pd.DataFrame:
    """Synthetic EWAS-style data with known effects, for regression tests."""
    rng = np.random.RandomState(1855)
    n = 1000
    age = rng.uniform(20, 70, n)
    sexm = rng.choice([0.0, 1.0], n)
    signal = rng.randn(n)
    noise1 = rng.randn(n)
    noise2 = rng.randn(n)
    cat = rng.choice(["A", "B", "C"], n)
    cat_effect = np.where(cat == "B", 2.0, np.where(cat == "C", -1.0, 0.0))
    y = 5.0 + 0.1 * age + 1.5 * sexm + 3.0 * signal + cat_effect + rng.randn(n)
    ybin = (y + rng.randn(n) * 2 > np.median(y)).astype(float)
    return pd.DataFrame(
        {
            "ID": np.arange(n),
            "outcome": y,
            "outcome_bin": np.where(ybin == 1, "Case", "Control"),
            "age": age,
            "sex": np.where(sexm == 1, "M", "F"),
            "signal": signal,
            "noise1": noise1,
            "noise2": noise2,
            "cat_var": cat,
        }
    )


@pytest.fixture(scope="session")
def ewas_cf(spark, ewas_pdf) -> ClariteFrame:
    df = spark.createDataFrame(ewas_pdf)
    cat = VariableCatalog(
        types={
            "outcome": "continuous",
            "outcome_bin": "binary",
            "age": "continuous",
            "sex": "binary",
            "signal": "continuous",
            "noise1": "continuous",
            "noise2": "continuous",
            "cat_var": "categorical",
        },
        categories={
            "outcome_bin": ["Case", "Control"],
            "sex": ["F", "M"],
            "cat_var": ["A", "B", "C"],
        },
    )
    return ClariteFrame(df, cat)
