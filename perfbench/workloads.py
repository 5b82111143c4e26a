"""The workloads: inputs, one pipeline pass, and its output check.

Each is built so that one layer of the engine dominates it: plan
construction and Catalyst over wide projections (``qc_wide``), driver
construction and py4j (``ewas_linear_canonical``), execution and the
Python worker (``ewas_logistic_grouped``), and the survey design with
its thread-pooled tail (``ewas_survey``). BENCHMARK.json lists the ones
the benchmark gates on and why. A pass calls only public functions of
``sources.io``, ``operators.modify``, ``operators.describe``,
``survey.design`` and ``operators.analyze``, every call going through a
hook (``trace.Direct`` untraced, ``trace.Tracer`` traced) under the
span name ``<module>.<function>``.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable

from perfbench import gen, validate
from perfbench.gen import Shape, Truth

import clarite_python_spark as cs
from clarite_python_spark import SurveyDesignSpec, analyze, describe, modify
from clarite_python_spark.sources import io


@dataclass
class Inputs:
    """What set-up hands the passes: cached frames plus the planted truth."""

    cf: cs.ClariteFrame
    truth: Truth
    path: str
    design: cs.ClariteFrame | None = None  # survey design table (ewas_survey)


@dataclass
class Workload:
    name: str
    shape: Shape
    toy: Shape  # the self-tests' shape
    # Warm passes per run, at least. A fixed count puts the reported
    # median at the same point of the JVM's warm-up in every run; a
    # count that varied with speed would add its own noise.
    warm_passes: int
    # columns of the shape that are not variables a pass processes
    # (the EWAS outcome and its three covariates)
    untested: int
    generate: Callable[[str, int, Shape, int], Truth]
    run_pass: Callable  # (Inputs, hook, out_path) -> output
    check: Callable  # (spark, Inputs, [outputs], seed) -> [problems per output]


def _cached(cf: cs.ClariteFrame) -> cs.ClariteFrame:
    df = cf.df.cache()
    df.count()
    return cs.ClariteFrame(df, cf.catalog)


def load(spark, path: str, truth: Truth) -> Inputs:
    """Read and cache the generated input (the EWAS tables carry a
    ``.dtypes`` sidecar; the QC table does not)."""
    design = None
    if truth.design is not None:
        design = _cached(io.from_parquet(spark, path + "_design"))
    return Inputs(_cached(io.from_parquet(spark, path)), truth, path, design)


def unload(inputs: Inputs) -> None:
    inputs.cf.df.unpersist()
    if inputs.design is not None:
        inputs.design.df.unpersist()


# ---- qc_wide -----------------------------------------------------------------


def qc_pass(inp: Inputs, hook, out_path: str) -> dict:
    cf = hook.call("modify.categorize", modify.categorize, inp.cf)
    cat_report = cf.last_report
    cf = hook.call("modify.colfilter_min_n", modify.colfilter_min_n, cf, n=gen.MIN_N)
    min_n_dropped = cf.last_report["dropped"]
    cf = hook.call("modify.colfilter_min_cat_n", modify.colfilter_min_cat_n, cf, n=gen.MIN_CAT_N)
    min_cat_n_dropped = cf.last_report["dropped"]
    cf = hook.call("modify.rowfilter_incomplete_obs", modify.rowfilter_incomplete_obs, cf)
    cf = hook.call("modify.remove_outliers", modify.remove_outliers, cf)
    for name in ("percent_na", "skewness", "correlations", "freq_table"):
        span = f"describe.{name}"
        hook.collect(span, hook.call(span, getattr(describe, name), cf))
    hook.call("io.save", io.save, cf, out_path)
    return {
        "path": out_path,
        "type_counts": cat_report["type_counts"],
        "dropped": {
            "all_na": cat_report["dropped_all_na"],
            "min_n": min_n_dropped,
            "min_cat_n": min_cat_n_dropped,
        },
        "catalog_types": dict(cf.catalog.types),
        "columns": list(cf.df.columns),
    }


def qc_check(spark, inp: Inputs, outputs: list[dict], seed: int) -> list[list[str]]:
    return [
        validate.check_qc(out, inp.truth, io.from_parquet(spark, out["path"])) for out in outputs
    ]


# ---- ewas_* ------------------------------------------------------------------


def ewas_pass(inp: Inputs, hook, out_path: str) -> list:
    truth = inp.truth
    design = None
    if inp.design is not None:
        design = hook.call(
            "survey.SurveyDesignSpec",
            SurveyDesignSpec,
            inp.design,
            strata=truth.design["strata"],
            cluster=truth.design["cluster"],
            nest=True,
            weights=truth.design["weights"],
        )
    result = hook.call(
        "analyze.association_study",
        analyze.association_study,
        inp.cf,
        outcomes=truth.outcome,
        covariates=truth.covariates,
        survey_design_spec=design,
    )
    result = hook.call("analyze.add_corrected_pvalues", analyze.add_corrected_pvalues, result)
    return hook.collect("analyze.association_study", result)


def ewas_check(spark, inp: Inputs, outputs: list, seed: int) -> list[list[str]]:
    truth = inp.truth
    arrays = gen.read_arrays(inp.path, list(truth.types))
    weights = None
    if truth.design is not None:
        w = truth.design["weights"]
        weights = gen.read_arrays(inp.path + "_design", [w])[w]
    refs = validate.reference_fits(arrays, truth, seed, weights)
    return [validate.check_ewas([r.asDict() for r in rows], truth, refs) for rows in outputs]


WORKLOADS = {
    w.name: w
    for w in (
        Workload("qc_wide", Shape(1000, 40), Shape(1000, 30), warm_passes=3, untested=0,
                 generate=gen.qc_wide, run_pass=qc_pass, check=qc_check),
        Workload("ewas_logistic_grouped", Shape(4000, 200), Shape(2000, 44), warm_passes=4, untested=4,
                 generate=gen.ewas_logistic, run_pass=ewas_pass, check=ewas_check),
        # Run on demand, not listed in BENCHMARK.json (see README.md):
        Workload("ewas_linear_canonical", Shape(22624, 970), Shape(2000, 64), warm_passes=2, untested=4,
                 generate=gen.ewas_linear, run_pass=ewas_pass, check=ewas_check),
        Workload("ewas_survey", Shape(20000, 200), Shape(2000, 44), warm_passes=4, untested=4,
                 generate=gen.ewas_survey, run_pass=ewas_pass, check=ewas_check),
    )
}

# Spans a pass can emit, in pass order; ".collect" marks materializing a
# returned lazy frame. Every workload reports every span (0 where its
# pass does not make the call), so a layer that should stay flat on a
# workload visibly does.
SPANS = [
    "modify.categorize",
    "modify.colfilter_min_n",
    "modify.colfilter_min_cat_n",
    "modify.rowfilter_incomplete_obs",
    "modify.remove_outliers",
    *[
        s
        for name in ("percent_na", "skewness", "correlations", "freq_table")
        for s in (f"describe.{name}", f"describe.{name}.collect")
    ],
    "io.save",
    "survey.SurveyDesignSpec",
    "analyze.association_study",
    "analyze.add_corrected_pvalues",
    "analyze.association_study.collect",
]
