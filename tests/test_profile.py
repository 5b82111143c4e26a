"""The frame profile (functions/profile.py) and its seven readers.

- Edge inputs (an empty frame, all-null columns, a single-level column,
  a double column holding -0.0, 0.0, NaN and null) over three
  partitions give the outputs and reports the per-operator aggregates
  gave before the profile existed. The exceptions are fixes: an empty
  frame's ``percent_na`` is NaN, not a DIVIDE_BY_ZERO error; a reader
  over a frame without variables returns an empty result; NaN is one
  level, and -0.0 and 0.0 are one level, in level lists and
  ``freq_table``.
- Precision: ``correlations`` against pandas' pairwise-complete
  ``corr`` (abs 1e-12, or 1e-9 on a column offset by 1e6) and
  ``skewness`` against Spark's ``skewness`` aggregate (rel 1e-12).
- Plans: the QC-and-describe chain profiles twice, collecting a
  describe result runs no job, and the driver collects one merged row
  whatever the partition count.
"""

from __future__ import annotations

import datetime
import decimal
import math

import numpy as np
import pandas as pd
import pytest
from pyspark.sql.classic.dataframe import DataFrame as ClassicDataFrame

from clarite_python_spark.catalog import ClariteFrame, VariableCatalog, local_frame
from clarite_python_spark.functions import profile
from clarite_python_spark.functions.profile import LEVEL_CAP, compute_profile
from clarite_python_spark.operators import describe, modify

NAN = float("nan")
EDGE_SCHEMA = (
    "ID long, z double, allnull double, allnull_s string, one string, b string, k int,"
    " c1 double, c2 double, s string"
)
TYPED = {
    "z": "binary",
    "allnull": "continuous",
    "allnull_s": "categorical",
    "one": "categorical",
    "b": "binary",
    "k": "categorical",
    "c1": "continuous",
    "c2": "continuous",
    "s": "unknown",
}
VARS = ["z", "allnull", "allnull_s", "one", "b", "k", "c1", "c2", "s"]


def _edge_rows(n: int) -> list[tuple]:
    rng = np.random.RandomState(3)
    zs = [-0.0, 0.0, NAN, None, 0.0, -0.0, 0.0, NAN, None, 0.0, -0.0, None]
    rows = []
    for i in range(n):
        c1 = None if i % 7 == 3 else float(np.round(rng.randn() * 2 + 1, 6))
        c2 = None if i % 5 == 1 else float(np.round(rng.exponential(), 6))
        rows.append(
            (i, zs[i % len(zs)], None, None, None if i % 4 == 0 else "a",
             "x" if i % 3 else "y", i % 3 + 1, c1, c2, ["1.5", "abc", None, "7"][i % 4])
        )
    return rows


def _edge_frame(spark, n: int, catalog: VariableCatalog | None = None) -> ClariteFrame:
    df = spark.createDataFrame(_edge_rows(n), EDGE_SCHEMA).repartition(3, "ID")
    return ClariteFrame(df, catalog) if catalog else ClariteFrame(df)


def _rows(df) -> list[list]:
    return [list(r) for r in df.collect()]


def _assert_rows_close(got: list[list], want: list[list], rel: float = 1e-12) -> None:
    assert len(got) == len(want), (got, want)
    for g, w in zip(got, want):
        assert len(g) == len(w)
        for a, b in zip(g, w):
            if isinstance(b, float):
                assert (math.isnan(a) and math.isnan(b)) or a == pytest.approx(b, rel=rel, abs=1e-12), (g, w)
            else:
                assert a == b, (g, w)


def _readers(cf: ClariteFrame) -> dict:
    return {
        "percent_na": _rows(describe.percent_na(cf)),
        "skewness": _rows(describe.skewness(cf)),
        "skewness_keepna": _rows(describe.skewness(cf, dropna=False)),
        "correlations": _rows(describe.correlations(cf, threshold=0.0)),
        "freq_table": _rows(describe.freq_table(cf)),
        "min_n": modify.colfilter_min_n(cf, n=20).last_report,
        "min_cat_n": modify.colfilter_min_cat_n(cf, n=3).last_report,
    }


NON_CAT = "<Non-Categorical Values>"
PNA_36 = [["allnull", 100.0], ["allnull_s", 100.0], ["b", 0.0], ["c1", 13.888888888888884],
          ["c2", 19.444444444444443], ["k", 0.0], ["one", 25.0], ["s", 25.0], ["z", 25.0]]
SKEW_C1 = ["c1", 0.31823629283529475, 0.8328993887167674, 0.40490147444483354]
SKEW_C2 = ["c2", 1.549026602578162, 3.273180307857568, 0.0010634461497981372]
SKEW_K = ["k", 5.028205043814938e-17, 0.0, 1.0]
COUNTS_36 = {"z": 27, "allnull": 0, "allnull_s": 0, "one": 27, "b": 36, "k": 36, "c1": 31,
             "c2": 29, "s": 27}
FREQ_LEVELS = [["b", "x", 24], ["b", "y", 12], ["c1", NON_CAT, 31], ["c2", NON_CAT, 29],
               ["k", "1", 12], ["k", "2", 12], ["k", "3", 12], ["one", "a", 27]]


def test_readers_on_edge_inputs(spark):
    raw = _readers(_edge_frame(spark, 36))
    assert raw["percent_na"] == PNA_36  # bit-identical to Spark's count(c) / count(1)
    _assert_rows_close(raw["skewness"], [["allnull", NAN, NAN, NAN], SKEW_C1, SKEW_C2, SKEW_K,
                                         ["z", NAN, NAN, NAN]])
    _assert_rows_close(raw["skewness_keepna"], [[c, NAN, NAN, NAN] for c in ("allnull", "c1", "c2")]
                       + [SKEW_K, ["z", NAN, NAN, NAN]])
    _assert_rows_close(raw["correlations"], [["k", "c1", 0.3322002977392357],
                                             ["c1", "c2", -0.2005316037799128],
                                             ["k", "c2", -0.061395305995244544]])
    assert raw["freq_table"] == [[c, NON_CAT, COUNTS_36[c]] for c in sorted(VARS)]
    assert raw["min_n"] == {"dropped": ["allnull", "allnull_s"],
                            "kept": ["z", "one", "b", "k", "c1", "c2", "s"],
                            "non_na_counts": COUNTS_36}
    assert raw["min_cat_n"] == {"dropped": [], "kept": VARS, "min_level_counts": {}}

    cat = modify.categorize(_edge_frame(spark, 36))
    assert cat.last_report == {
        "dropped_all_na": ["allnull", "allnull_s"],
        "type_counts": {"constant": 1, "binary": 2, "categorical": 2, "continuous": 2, "unknown": 0},
    }
    assert cat.catalog.types == {"z": "binary", "one": "constant", "b": "binary", "k": "categorical",
                                 "c1": "continuous", "c2": "continuous", "s": "categorical"}
    levels = dict(cat.catalog.categories)
    z = levels.pop("z")
    assert z[0] == 0.0 and math.copysign(1.0, z[0]) == 1.0 and math.isnan(z[1]) and len(z) == 2
    assert levels == {"one": ["a"], "b": ["x", "y"], "k": [1, 2, 3], "s": ["1.5", "7", "abc"]}
    after = _readers(cat)
    assert after["percent_na"] == [r for r in PNA_36 if r[0] not in ("allnull", "allnull_s")]
    freq = FREQ_LEVELS + [["s", "1.5", 9], ["s", "7", 9], ["s", "abc", 9], ["z", "0.0", 21], ["z", "NaN", 6]]
    assert after["freq_table"] == freq
    assert after["min_cat_n"]["dropped"] == []
    assert after["min_cat_n"]["min_level_counts"] == {"k": 12, "s": 9, "b": 12, "z": 6}
    _assert_rows_close(after["correlations"], [["c1", "c2", -0.2005316037799128]])

    typed = _readers(_edge_frame(spark, 36, VariableCatalog(types=dict(TYPED))))
    assert typed["freq_table"] == (
        [["allnull", NON_CAT, 0]] + FREQ_LEVELS + [["s", NON_CAT, 27], ["z", "0.0", 21], ["z", "NaN", 6]]
    )
    assert typed["min_cat_n"] == {
        "dropped": ["allnull_s"],
        "kept": ["z", "allnull", "one", "b", "k", "c1", "c2", "s"],
        "min_level_counts": {"k": 12, "one": 27, "b": 12, "z": 6},
    }
    _assert_rows_close(typed["skewness"], [["allnull", NAN, NAN, NAN], SKEW_C1, SKEW_C2])


def test_readers_on_an_empty_frame(spark):
    raw = _readers(_edge_frame(spark, 0))
    assert [r[0] for r in raw["percent_na"]] == sorted(VARS)
    assert all(math.isnan(r[1]) for r in raw["percent_na"])  # pandas' 0/0
    nan_rows = [[c, NAN, NAN, NAN] for c in ("allnull", "c1", "c2", "k", "z")]
    _assert_rows_close(raw["skewness"], nan_rows)
    _assert_rows_close(raw["skewness_keepna"], nan_rows)
    assert raw["correlations"] == []
    assert raw["freq_table"] == [[c, NON_CAT, 0] for c in sorted(VARS)]
    assert raw["min_n"] == {"dropped": sorted(VARS), "kept": [], "non_na_counts": dict.fromkeys(VARS, 0)}

    cat = modify.categorize(_edge_frame(spark, 0))
    assert cat.last_report["dropped_all_na"] == VARS and cat.variables == []
    after = _readers(cat)
    assert after == {
        "percent_na": [], "skewness": [], "skewness_keepna": [], "correlations": [], "freq_table": [],
        "min_n": {"dropped": [], "kept": [], "non_na_counts": {}},
        "min_cat_n": {"dropped": [], "kept": [], "min_level_counts": {}},
    }

    typed = _readers(_edge_frame(spark, 0, VariableCatalog(types=dict(TYPED))))
    assert typed["freq_table"] == [[c, NON_CAT, 0] for c in ("allnull", "c1", "c2", "s")]
    assert typed["min_cat_n"] == {"dropped": ["allnull_s", "b", "k", "one", "z"],
                                  "kept": ["allnull", "c1", "c2", "s"], "min_level_counts": {}}


def test_percent_na_of_an_empty_frame_is_nan(spark):
    df = spark.createDataFrame([], "ID long, x double, s string")
    rows = describe.percent_na(ClariteFrame(df)).collect()
    assert [r["variable"] for r in rows] == ["s", "x"]
    assert all(math.isnan(r["percent_na"]) for r in rows)


def test_levels_and_rendering_follow_spark(spark):
    """Level lists equal sorted ``collect_set`` and ``freq_table`` values
    equal Spark's CAST(... AS STRING) grouping, for every value type."""
    n = 30
    ts = [datetime.datetime(2020, 1, 1, 12, 30), datetime.datetime(2021, 6, 2)]
    rows = [
        (i, i % 3, [7, 8][i % 2] * 10**10, ["lo", "mid", "hi"][i % 3], i % 2 == 0,
         datetime.date(2020, 1, 1 + i % 3), ts[i % 2], decimal.Decimal(["1.50", "2.25"][i % 2]),
         [1.5, 2.25, 1e7][i % 3], [0.5, 1e-5][i % 2])
        for i in range(n)
    ]
    schema = ("ID long, i int, l long, s string, b boolean, d date, t timestamp,"
              " m decimal(10,2), f float, x double")
    cf = ClariteFrame(spark.createDataFrame(rows, schema).repartition(3, "ID"))
    cat = modify.categorize(cf)
    want = cf.df.selectExpr(*[f"collect_set({c}) AS {c}" for c in cf.variables]).collect()[0]
    for c in cf.variables:
        assert cat.catalog.categories[c] == sorted(want[c]), c
        assert type(cat.catalog.categories[c][0]) is type(want[c][0]), c
    long = cf.df.selectExpr(*[f"CAST({c} AS STRING) AS {c}" for c in cf.variables]).unpivot(
        [], None, "variable", "value"
    )
    expect = sorted(
        ([r["variable"], r["value"], r["count"]] for r in long.groupBy("variable", "value").count().collect()),
        key=lambda r: (r[0], -r[2], r[1]),
    )
    assert _rows(describe.freq_table(cat)) == expect
    assert ["f", "1.0E7", 10] in expect and ["x", "1.0E-5", 15] in expect


def test_correlations_match_pandas_pairwise(spark):
    rng = np.random.RandomState(17)
    n = 2000
    base = rng.randn(n)
    pdf = pd.DataFrame({
        "ID": np.arange(n),
        "a": base + rng.randn(n) * 0.5,
        "b": -base + rng.randn(n),
        "c": rng.randn(n) * 3 + 2,
        "d": base * 0.1 + rng.randn(n) + 1e6,  # offset column
    })
    for c in "abcd":
        pdf.loc[rng.rand(n) < 0.1, c] = np.nan
    want = pdf[list("abcd")].corr()
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "128")  # many batches to merge
    try:
        cf = ClariteFrame(spark.createDataFrame(pdf).repartition(4))
        got = describe.correlations(cf, threshold=0.0).collect()
    finally:
        spark.conf.unset("spark.sql.execution.arrow.maxRecordsPerBatch")
    assert len(got) == 6
    for r in got:
        tol = 1e-9 if "d" in (r["var1"], r["var2"]) else 1e-12
        assert abs(r["correlation"] - want.loc[r["var1"], r["var2"]]) <= tol, r


def test_skewness_matches_spark(spark):
    rng = np.random.RandomState(5)
    n = 400
    rows = [
        (i, float(rng.exponential()), float(rng.gamma(2.0)) if i % 9 else None,
         float(rng.randn()) if i < 5 else None, 0.1)
        for i in range(n)
    ]
    df = spark.createDataFrame(rows, "ID long, e double, g double, small double, flat double")
    cf = ClariteFrame(df.repartition(3, "ID"))
    ref = df.selectExpr(*[f"skewness({c}) AS {c}" for c in ("e", "g", "small", "flat")]).collect()[0]
    got = {r["variable"]: r for r in describe.skewness(cf).collect()}
    for c in ("e", "g", "small"):
        assert got[c]["skew"] == pytest.approx(ref[c], rel=1e-12)
    assert ref["flat"] is None and math.isnan(got["flat"]["skew"])  # zero variance
    assert math.isnan(got["small"]["zscore"])  # n < 8: no skew test
    assert 0.0 <= got["e"]["pvalue"] <= 1.0
    keep = {r["variable"]: r for r in describe.skewness(cf, dropna=False).collect()}
    assert all(math.isnan(keep[c]["skew"]) for c in ("g", "small"))
    assert keep["e"]["skew"] == got["e"]["skew"]


def _jobs(spark, thunk):
    dag = spark.sparkContext._jsc.sc().dagScheduler()
    job0 = dag.nextJobId()
    out = thunk()
    return out, dag.nextJobId() - job0


def test_chain_profiles_each_state_once(spark, monkeypatch):
    calls = []

    def spy(*args, **kwargs):
        calls.append(args[1])
        return compute_profile(*args, **kwargs)

    monkeypatch.setattr(profile, "compute_profile", spy)
    monkeypatch.setattr(modify, "compute_profile", spy)
    raw = _edge_frame(spark, 36)
    cf = modify.categorize(raw)
    cf = modify.colfilter_min_n(cf, n=20)
    cf = modify.colfilter_min_cat_n(cf, n=3)
    cf = modify.rowfilter_incomplete_obs(cf, only=["b", "k"])
    results = [describe.percent_na(cf), describe.skewness(cf), describe.correlations(cf), describe.freq_table(cf)]
    assert len(calls) == 2
    assert raw.profile is None  # categorize never memoizes on its input
    for res in results:
        _, jobs = _jobs(spark, res.collect)
        assert jobs == 0
    modify.categorize(raw)
    assert len(calls) == 3  # ... and always scans it


def test_profile_collects_one_merged_row(spark, monkeypatch):
    sizes = []
    collect = ClassicDataFrame.collect

    def counted(self):
        rows = collect(self)
        sizes.append(len(rows))
        return rows

    df = spark.range(1000).selectExpr("id AS ID", "CAST(id % 7 AS DOUBLE) AS x").repartition(17)
    monkeypatch.setattr(ClassicDataFrame, "collect", counted)
    prof = compute_profile(df, ["x"], moment_cols=["x"], gram_cols=["x"])
    assert sizes == [1]
    assert prof.rows == 1000 and prof.nonnull == {"x": 1000} and prof.distinct("x") == 7
    assert prof.moments["x"][0] == 1000 and prof.moments["x"][1] == pytest.approx(2.997)


def test_level_cap(spark):
    with pytest.raises(ValueError, match="LEVEL_CAP"):
        modify.categorize(_edge_frame(spark, 12), cont_min=LEVEL_CAP + 1)
    # under the cap in each of 3 partitions, over it once merged
    n = LEVEL_CAP + 100
    df = spark.range(n).selectExpr("id AS ID", "concat('v', id) AS many", "CAST(id % 2 AS INT) AS two")
    cf = ClariteFrame(df.repartition(3, "ID"))
    cat = modify.categorize(cf)
    assert cat.catalog.types == {"many": "unknown", "two": "binary"}
    marked = ClariteFrame(cf.df, VariableCatalog(types={"many": "categorical", "two": "binary"}))
    with pytest.raises(ValueError, match=r"\['many'\]"):
        describe.freq_table(marked)
    with pytest.raises(ValueError, match=r"\['many'\]"):
        modify.colfilter_min_cat_n(marked)
    assert describe.freq_table(marked, only=["two"]).count() == 2


def test_local_frame_keeps_types_nan_and_null(spark):
    df, jobs = _jobs(spark, lambda: local_frame([("a", NAN, 1), ("b", None, None)], "v string, x double, n long"))
    assert df.schema.simpleString() == "struct<v:string,x:double,n:bigint>"
    rows, collect_jobs = _jobs(spark, df.collect)
    assert jobs == 0 and collect_jobs == 0
    assert math.isnan(rows[0]["x"]) and rows[1]["x"] is None and rows[1]["n"] is None
    assert local_frame([{"n": 2, "v": "c"}], "v string, x double, n long").collect()[0].asDict() == {
        "v": "c", "x": None, "n": 2
    }
