"""QC / modify operators (reference ``clarite/modules/modify.py``).

Design rules (SURVEY.md §7):

- column statistics come from the frame's profile
  (functions/profile.py): ONE ``mapInArrow`` pass per frame state gives
  every column's counts, level histogram and cast failures, so
  ``categorize`` and the column filters, and the describe operators
  after them, share one scan instead of one aggregate each;
  ``categorize`` always scans its input, the filters reuse the profile
  it attaches (``select_variables`` keeps it for the survivors);
- the other column-statistic operators (``make_*``,
  ``colfilter_percent_zero``, ``remove_outliers``) still run ONE batched
  aggregate with N expressions, rendered as one ``selectExpr`` parse;
- decisions (which columns survive) are driver-side over the tiny
  per-column statistics; the data plan stays lazy;
- value rewrites (recode, outliers) avoid driver collects where possible
  by broadcast-joining the 1-row stats frame back onto the data; a row
  filter or value rewrite returns a frame without a profile, so the
  next reader profiles the new state;
- each operator returns a new ``ClariteFrame`` and attaches a
  ``last_report`` dict mirroring the counts the reference prints eagerly
  via ``print_wrap`` (utilities.py:13-23) — the log IS the spec in the
  reference's tests, so the counts must be computable, but we only pay
  for them when the operator inherently needs the stats anyway.
"""

from __future__ import annotations

import math
from typing import Mapping, Sequence

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from clarite_python_spark.catalog import (
    BINARY,
    CATEGORICAL,
    CONSTANT,
    CONTINUOUS,
    ID_COL,
    UNKNOWN,
    ClariteFrame,
    VariableCatalog,
    _is_numeric,
    qcol,
    qname,
    validate_skip_only,
)
from clarite_python_spark.functions.profile import LEVEL_CAP, compute_profile, frame_profile

__all__ = [
    "categorize",
    "colfilter",
    "colfilter_min_n",
    "colfilter_min_cat_n",
    "colfilter_percent_zero",
    "make_binary",
    "make_genotypes",
    "make_categorical",
    "make_continuous",
    "merge_observations",
    "merge_variables",
    "move_variables",
    "recode_values",
    "remove_outliers",
    "outlier_bounds_check",
    "clip_outliers",
    "rowfilter",
    "rowfilter_incomplete_obs",
    "transform",
    "drop_extra_categories",
]


def _report(cf: ClariteFrame, report: dict) -> ClariteFrame:
    cf.last_report = report  # transient, mirrors the reference's printed counts
    return cf


# --------------------------------------------------------------------------
# type inference / assertion
# --------------------------------------------------------------------------


def categorize(cf: ClariteFrame, cat_min: int = 3, cat_max: int = 6, cont_min: int = 15) -> ClariteFrame:
    """Infer the CLARITE type of every variable from distinct-value counts.

    Reference ``modify.py:41-176`` (kernel: ``data.nunique(dropna=True)``
    at ``:86``):

    - 0 non-NA values            -> column dropped
    - 1 distinct                 -> constant
    - 2 distinct                 -> binary
    - cat_min..cat_max distinct  -> categorical
    - cat_max+1..cont_min-1      -> unknown (too many for cat, too few for cont)
    - >= cont_min distinct       -> continuous if castable to number, else
                                    unknown ("couldn't convert",
                                    modify.py:118-125)

    Spark plan: ONE profile pass over the input (functions/profile.py)
    gives each column's non-null count, its level histogram (exact up to
    ``LEVEL_CAP`` levels, which is also where the levels of the
    constant/binary/categorical columns come from) and its count of
    non-null values failing Spark's numeric cast. The input is always
    scanned, and the profile is attached to the output frame, never to
    ``cf``. ``cont_min`` and ``cat_max`` above ``LEVEL_CAP`` raise
    ``ValueError``: the histogram cannot tell those counts apart.
    """
    if max(cont_min, cat_max) > LEVEL_CAP:
        raise ValueError(f"cont_min and cat_max must be at most LEVEL_CAP = {LEVEL_CAP}")
    df = cf.df
    cols = cf.variables
    numeric = [f.name for f in df.schema.fields if _is_numeric(f.dataType)]
    prof = compute_profile(df, cols, moment_cols=numeric)

    catalog = VariableCatalog()
    keep: list[str] = []
    dropped: list[str] = []
    for c in cols:
        if prof.nonnull[c] == 0:
            dropped.append(c)
            continue
        keep.append(c)
        d, bad = prof.distinct(c), prof.bad.get(c, 0)
        if d == 1:
            catalog.set(c, CONSTANT)
        elif d == 2:
            catalog.set(c, BINARY)
        elif cat_min <= d <= cat_max:
            catalog.set(c, CATEGORICAL)
        elif d >= cont_min:
            catalog.set(c, CONTINUOUS if bad == 0 else UNKNOWN)
        else:
            catalog.set(c, UNKNOWN)
    for c in catalog.of_type(CONSTANT, BINARY, CATEGORICAL):
        catalog.categories[c] = prof.levels(c)

    out = ClariteFrame(
        df.selectExpr(qname(ID_COL), *[f"{qname(c)} AS {qname(c)}" for c in keep]),
        catalog,
        prof.restrict(keep),
    )
    counts = {t: len(catalog.of_type(t)) for t in (CONSTANT, BINARY, CATEGORICAL, CONTINUOUS, UNKNOWN)}
    return _report(out, {"dropped_all_na": dropped, "type_counts": counts})


def _assert_and_mark(cf: ClariteFrame, vtype: str, skip, only) -> ClariteFrame:
    cols = validate_skip_only(cf.variables, skip, only)
    out = cf.with_df(cf.df)
    for c in cols:
        out.catalog.set(c, vtype)
    return out


def make_binary(cf: ClariteFrame, skip=None, only=None) -> ClariteFrame:
    """Assert exactly 2 distinct values then mark binary (modify.py:397-453).

    One agg scan validates all target columns together — the level SETS
    double as the distinct counts, so validation and level caching share
    a single job (r13; previously count_distinct ran its own agg)."""
    cols = validate_skip_only(cf.variables, skip, only)
    levels = cf.df.agg(*[F.collect_set(qcol(c)).alias(c) for c in cols]).collect()[0].asDict()
    bad = {c: len(levels[c]) for c in cols if len(levels[c]) != 2}
    if bad:
        raise ValueError(f"{len(bad)} variable(s) did not have 2 distinct values: {sorted(bad)}")
    out = _assert_and_mark(cf, BINARY, skip, only)
    for c in cols:
        out.catalog.categories[c] = sorted(levels[c])
    return _report(out, {"set_binary": cols})


def make_categorical(cf: ClariteFrame, skip=None, only=None) -> ClariteFrame:
    """Mark columns categorical (modify.py:457-500); caches levels.

    A column with EXACTLY 1 distinct non-null value stays CONSTANT even
    when explicitly made categorical — the reference's data-derived
    ``_get_dtype`` (internal/utilities.py:148-151, pinned by
    tests/internal/test_dtypes.py) maps exactly one category to
    "constant", and downstream analyses skip constants. An all-null
    column (0 categories — collect_set drops nulls) falls through the
    reference's 1/2/>2 category ladder to "unknown", so it is marked
    UNKNOWN here, not constant."""
    cols = validate_skip_only(cf.variables, skip, only)
    out = _assert_and_mark(cf, CATEGORICAL, skip, only)
    levels = cf.df.agg(*[F.collect_set(qcol(c)).alias(c) for c in cols]).collect()[0].asDict()
    from clarite_python_spark.catalog import CONSTANT, UNKNOWN

    constant_cols = []
    unknown_cols = []
    for c in cols:
        out.catalog.categories[c] = sorted(levels[c])
        if len(levels[c]) == 1:
            out.catalog.set(c, CONSTANT)
            constant_cols.append(c)
        elif len(levels[c]) == 0:
            out.catalog.set(c, UNKNOWN)
            unknown_cols.append(c)
    moved = set(constant_cols) | set(unknown_cols)
    report = {"set_categorical": [c for c in cols if c not in moved]}
    if constant_cols:
        report["kept_constant"] = constant_cols
    if unknown_cols:
        report["kept_unknown"] = unknown_cols
    return _report(out, report)


def make_genotypes(cf: ClariteFrame, alleles: Mapping[str, Sequence[str]]) -> ClariteFrame:
    """Mark ``"a1/a2"`` string columns as genotypes with their (ref, alt)
    alleles. The reference's genotype columns carry this in the
    pandas-genomics GenotypeDtype (``utilities.py:105-107``); here the
    alleles live in the catalog and encodings are column expressions
    (functions/genotypes.py)."""
    from clarite_python_spark.catalog import GENOTYPES

    out = cf.with_df(cf.df)
    for c, ra in alleles.items():
        if c not in set(cf.variables):
            raise ValueError(f"column {c!r} not found in data")
        ref, alt = ra
        out.catalog.set(c, GENOTYPES)
        out.catalog.alleles[c] = [ref, alt]
    return _report(out, {"set_genotypes": sorted(alleles)})


def make_continuous(cf: ClariteFrame, skip=None, only=None) -> ClariteFrame:
    """Cast to double, erroring if any non-null value fails the cast
    (modify.py:504-567, try-convert :544-550). One validation agg scan."""
    cols = validate_skip_only(cf.variables, skip, only)
    df = cf.df
    numeric = {f.name for f in df.schema.fields if _is_numeric(f.dataType)}
    to_check = [c for c in cols if c not in numeric]
    if to_check:  # physically numeric columns can't fail the cast
        checks = df.agg(
            *[
                F.sum(
                    (qcol(c).isNotNull() & qcol(c).cast("string").try_cast("double").isNull()).cast("long")
                ).alias(c)
                for c in to_check
            ]
        ).collect()[0].asDict()
        bad = sorted(c for c, n in checks.items() if (n or 0) > 0)
        if bad:
            raise ValueError(f"couldn't convert to continuous: {bad}")
    new_df = df.select(
        *[
            qcol(c).try_cast("double").alias(c) if c in set(cols) else qcol(c)
            for c in df.columns
        ]
    )
    out = cf.with_df(new_df)
    for c in cols:
        out.catalog.set(c, CONTINUOUS)
    return _report(out, {"set_continuous": cols})


# --------------------------------------------------------------------------
# column filters
# --------------------------------------------------------------------------


def _colfilter_result(cf: ClariteFrame, keep: list[str], dropped: list[str], extra: dict) -> ClariteFrame:
    out = cf.select_variables(keep)
    report = {"dropped": dropped, "kept": keep}
    report.update(extra)
    return _report(out, report)


def colfilter(cf: ClariteFrame, skip=None, only=None) -> ClariteFrame:
    """Keep/drop named columns (modify.py:180-225). Pure projection —
    Catalyst prunes the scan down to the survivors."""
    keep = validate_skip_only(cf.variables, skip, only)
    dropped = [c for c in cf.variables if c not in set(keep)]
    return _colfilter_result(cf, keep, dropped, {})


def colfilter_min_n(cf: ClariteFrame, n: int = 200, skip=None, only=None) -> ClariteFrame:
    """Drop variables with fewer than ``n`` non-NA values
    (modify.py:284-340). Reads the non-null counts of the frame's
    profile (one pass, shared with the other column readers)."""
    cols = validate_skip_only(cf.variables, skip, only)
    prof = frame_profile(cf)
    counts = {c: prof.nonnull[c] for c in cols}
    dropped = sorted(c for c in cols if counts[c] < n)
    keep = [c for c in cf.variables if c not in set(dropped)]
    return _colfilter_result(cf, keep, dropped, {"non_na_counts": counts})


def colfilter_min_cat_n(cf: ClariteFrame, n: int = 200, skip=None, only=None) -> ClariteFrame:
    """Drop binary/categorical variables whose least frequent level occurs
    fewer than ``n`` times (modify.py:229-280, kernel :268).

    Reads the level histograms of the frame's profile (one pass, shared
    with the other column readers); a candidate with more than
    ``LEVEL_CAP`` levels raises ``ValueError``.
    """
    cols = validate_skip_only(cf.variables, skip, only)
    cand = [c for c in cols if cf.catalog.get(c) in (BINARY, CATEGORICAL)]
    if not cand:
        return _colfilter_result(cf, cf.variables, [], {"min_level_counts": {}})
    hist = frame_profile(cf).level_counts(cand)
    min_counts = {c: min(k for _, k in hist[c]) for c in cand if hist[c]}
    dropped = sorted(c for c in cand if min_counts.get(c, 0) < n)
    keep = [c for c in cf.variables if c not in set(dropped)]
    return _colfilter_result(cf, keep, dropped, {"min_level_counts": min_counts})


def colfilter_percent_zero(
    cf: ClariteFrame, filter_percent: float = 90.0, skip=None, only=None
) -> ClariteFrame:
    """Drop continuous variables with >= ``filter_percent``% zeros among
    non-NA values (modify.py:344-393, kernel :381). One agg scan."""
    cols = validate_skip_only(cf.variables, skip, only)
    cand = [c for c in cols if cf.catalog.get(c) == CONTINUOUS]
    if not cand:
        return _colfilter_result(cf, cf.variables, [], {"percent_zero": {}})
    aggs = [
        (F.sum((qcol(c) == 0).cast("long")) / F.count(qcol(c)) * 100.0).alias(c) for c in cand
    ]
    pct = cf.df.agg(*aggs).collect()[0].asDict()
    dropped = sorted(c for c in cand if pct[c] is not None and pct[c] >= filter_percent)
    keep = [c for c in cf.variables if c not in set(dropped)]
    return _colfilter_result(cf, keep, dropped, {"percent_zero": pct})


# --------------------------------------------------------------------------
# row filters
# --------------------------------------------------------------------------


def rowfilter_incomplete_obs(cf: ClariteFrame, skip=None, only=None) -> ClariteFrame:
    """Drop rows with any NA among the selected columns
    (modify.py:739-781) == ``na.drop(how="any", subset=cols)``.

    Pure narrow filter: Catalyst pushes the IsNotNull predicates into the
    scan."""
    cols = validate_skip_only(cf.variables, skip, only)
    return _report(cf.with_df(cf.df.na.drop(how="any", subset=cols)), {"subset": cols})


_OPS = {
    "lt": lambda c, v: c < v,
    "lte": lambda c, v: c <= v,
    "eq": lambda c, v: c == v,
    "gte": lambda c, v: c >= v,
    "gt": lambda c, v: c > v,
    "neq": lambda c, v: c != v,
}


def rowfilter(cf: ClariteFrame, column: str, comparison: str, value) -> ClariteFrame:
    """Keep rows where ``column <op> value`` (CLI ``modify rowfilter``,
    reference ``clarite/cli/commands/modify.py:196-255``). Predicate is
    pushable to the parquet scan."""
    if comparison not in _OPS:
        raise ValueError(f"comparison must be one of {sorted(_OPS)}")
    return _report(
        cf.with_df(cf.df.where(_OPS[comparison](qcol(column), F.lit(value)))),
        {"column": column, "comparison": comparison, "value": value},
    )


# --------------------------------------------------------------------------
# value transformations
# --------------------------------------------------------------------------


def recode_values(
    cf: ClariteFrame, replacement_dict: Mapping, skip=None, only=None, count_changes: bool = False
) -> ClariteFrame:
    """Replace values per the dict on selected columns (modify.py:571-633,
    kernel ``data.replace`` at :615).

    Chained ``F.when`` per column — stays inside whole-stage codegen. The
    reference reports #cells changed (diff-count :618-622, where NA==NA
    counts as equal); we compute that count in one agg only when
    ``count_changes`` (it is pure reporting)."""
    cols = validate_skip_only(cf.variables, skip, only)
    items = list(replacement_dict.items())

    def recoded(c: str) -> Column:
        expr = None
        for k, v in items:
            cond = qcol(c) == F.lit(k)
            expr = F.when(cond, F.lit(v)) if expr is None else expr.when(cond, F.lit(v))
        return expr.otherwise(qcol(c)).alias(c)

    new_df = cf.df.select(
        *[recoded(c) if c in set(cols) else qcol(c) for c in cf.df.columns]
    )
    report: dict = {"columns": cols}
    if count_changes:
        # null-safe inequality: NaN/NULL cells count as unchanged (ref :619)
        diff = cf.df.select(
            *[(~qcol(c).eqNullSafe(recoded(c))).cast("long").alias(c) for c in cols]
        ).agg(*[F.sum(qcol(c)).alias(c) for c in cols]).collect()[0].asDict()
        report["cells_changed"] = {c: int(diff[c] or 0) for c in cols}
    return _report(cf.with_df(new_df), report)


def remove_outliers(
    cf: ClariteFrame,
    method: str = "gaussian",
    cutoff: float = 3.0,
    skip=None,
    only=None,
    exact: bool = True,
) -> ClariteFrame:
    """Set continuous outliers to NULL (modify.py:637-735).

    - ``gaussian``: outside mean ± cutoff*stddev_samp (ref :719-723)
    - ``iqr``: outside [Q1 - cutoff*IQR, Q3 + cutoff*IQR] (ref :713-718)

    Oracle-exactness: pandas ``quantile`` is exact linear interpolation, so
    we default to Spark's exact ``percentile`` aggregate. ``exact=False``
    switches to ``approx_percentile(..., 10000)`` — the 100-TB path, where
    an exact per-column percentile (per-partition value buffering) is the
    wrong trade.

    Plan shape: one stats agg (all columns in one pass) broadcast-joined
    back onto the data — no driver round-trip in the data path, two scans
    total, and the second scan's WHEN expressions stay in codegen.
    """
    if cutoff <= 0:
        raise ValueError("cutoff must be positive")
    cols = [c for c in validate_skip_only(cf.variables, skip, only) if cf.catalog.get(c) == CONTINUOUS]
    if not cols:
        return _report(cf.with_df(cf.df), {"columns": []})
    stats = _outlier_bounds(cf.df, cols, method, cutoff, exact)
    joined = cf.df.crossJoin(F.broadcast(stats))
    colset = set(cols)

    def _masked(c: str) -> str:
        q, lo, hi = qname(c), qname("lo::" + c), qname("hi::" + c)
        return f"CASE WHEN (({q} < {lo}) OR ({q} > {hi})) THEN NULL ELSE {q} END AS {q}"

    new_df = joined.selectExpr(
        *[_masked(c) if c in colset else qname(c) for c in cf.df.columns]
    )
    return _report(cf.with_df(new_df), {"columns": cols, "method": method, "cutoff": cutoff})


def _outlier_bounds(
    df: DataFrame, cols: list[str], method: str, cutoff: float, exact: bool = True
) -> DataFrame:
    """1-row frame of (lo::col, hi::col) cutoffs for every column — one agg
    pass, broadcastable back onto the data."""
    # the whole agg renders as ONE selectExpr parse — identical
    # expression trees to the Column-API build (duplicate aggregate
    # functions are deduplicated by PhysicalAggregation either way); the
    # cutoff literal round-trips exactly through repr()
    if not math.isfinite(float(cutoff)):
        # repr() would render 'infD'/'nanD' — an opaque SQL parse error
        # instead of a clear contract violation
        raise ValueError(f"cutoff must be finite, got {cutoff!r}")
    cut = repr(float(cutoff)) + "D"
    aggs: list[str] = []
    for c in cols:
        qc, lo, hi = qname(c), qname("lo::" + c), qname("hi::" + c)
        if method == "gaussian":
            mean, sd = f"avg({qc})", f"stddev_samp({qc})"
            aggs.append(f"({mean} - ({cut} * {sd})) AS {lo}")
            aggs.append(f"({mean} + ({cut} * {sd})) AS {hi}")
        elif method == "iqr":
            # ONE percentile buffer per column (array of quantiles), not two
            if exact:
                qs = f"percentile({qc}, array(CAST(0.25 AS DOUBLE), CAST(0.75 AS DOUBLE)))"
            else:
                qs = f"approx_percentile({qc}, array(0.25, 0.75), 10000)"
            q1, q3 = f"{qs}[0]", f"{qs}[1]"
            aggs.append(f"({q1} - ({cut} * ({q3} - {q1}))) AS {lo}")
            aggs.append(f"({q3} + ({cut} * ({q3} - {q1}))) AS {hi}")
        else:
            raise ValueError("method must be 'gaussian' or 'iqr'")
    return df.selectExpr(*aggs)


def outlier_counts(
    cf: ClariteFrame, method: str = "gaussian", cutoff: float = 3.0, skip=None, only=None
) -> DataFrame:
    """Per-variable (n_low, n_high) outlier counts — the numbers the
    reference logs (modify.py:726-733) — as a small DataFrame.

    Same one-pass stats + broadcast shape as ``remove_outliers`` followed
    by a single counting agg and an unpivot of the 1-row result."""
    cols = [c for c in validate_skip_only(cf.variables, skip, only) if cf.catalog.get(c) == CONTINUOUS]
    bounds = _outlier_bounds(cf.df, cols, method, cutoff)
    joined = cf.df.crossJoin(F.broadcast(bounds))
    aggs = [
        F.sum(
            ((qcol(c) < qcol("lo::" + c)) | (qcol(c) > qcol("hi::" + c))).cast("long")
        ).alias(c)
        for c in cols
    ]
    row = joined.agg(*aggs)
    return row.unpivot([], cols, "variable", "n_removed")


def outlier_bounds_check(
    cf: ClariteFrame,
    method: str = "iqr",
    cutoff: float = 1.5,
    skip=None,
    only=None,
    tol: float = 0.01,
    include_counts: bool = False,
) -> DataFrame:
    """Tolerance contract for the APPROX outlier path (round 11).

    ``remove_outliers(exact=False)`` is the documented 100-TB switch
    (``approx_percentile`` sketch instead of exact per-column percentile
    buffering), but a sketch is only trustworthy if its error is
    bounded and CHECKED. This operator computes both bound sets in one
    job and returns, per continuous variable,

        (variable, lo_exact, hi_exact, approx_within_tol)

    where ``approx_within_tol`` is true iff BOTH approx bounds sit
    within ``tol`` of their exact counterparts, measured relative to
    the exact keep-range width ``hi_exact - lo_exact`` (for IQR at
    cutoff 1.5 that is 4x the IQR — a scale-free yardstick; a
    zero-width degenerate range demands exact equality, which a
    constant column's sketch satisfies). ``approx_percentile`` at the
    default accuracy 10000 has rank error <= N/10000, so 1% of the
    keep-range is generous at any SF — a false verdict means the
    sketch, not the data, changed.

    Cost: two single-pass aggs over the same scan (exact + approx) and
    a 1-row cross join — strictly cheaper than the remove it guards.
    Exact and approx bounds are identical for ``gaussian`` (no
    percentile in that formula), so ``iqr`` is the meaningful method.
    """
    if not 0 <= tol < 1:
        raise ValueError("tol must be in [0, 1)")
    cols = [c for c in validate_skip_only(cf.variables, skip, only) if cf.catalog.get(c) == CONTINUOUS]
    if not cols:
        raise ValueError("no continuous variables to check")
    exact = _outlier_bounds(cf.df, cols, method, cutoff, exact=True)
    if include_counts:
        # the exact-bounds 1-row agg feeds BOTH the tolerance compare
        # and the fused counting pass below — materialize it once
        # (guide §1.3; the exact percentile agg is the expensive half
        # of this operator)
        from pyspark import StorageLevel

        exact = exact.localCheckpoint(
            eager=False, storageLevel=StorageLevel.DISK_ONLY
        )
    approx = _outlier_bounds(cf.df, cols, method, cutoff, exact=False).select(
        *[qcol("lo::" + c).alias(f"alo::{c}") for c in cols],
        *[qcol("hi::" + c).alias(f"ahi::{c}") for c in cols],
    )
    row = exact.crossJoin(approx)
    structs = []
    for c in cols:
        lo, hi = qcol("lo::" + c), qcol("hi::" + c)
        alo, ahi = qcol("alo::" + c), qcol("ahi::" + c)
        slack = F.lit(float(tol)) * (hi - lo)
        structs.append(
            F.struct(
                F.lit(c).alias("variable"),
                F.round(lo, 4).alias("lo_exact"),
                F.round(hi, 4).alias("hi_exact"),
                (
                    (F.abs(alo - lo) <= slack) & (F.abs(ahi - hi) <= slack)
                ).alias("approx_within_tol"),
            )
        )
    out = row.select(F.inline(F.array(*structs)))
    if include_counts:
        # ``include_counts`` fuses :func:`outlier_counts` onto the SAME
        # exact-bounds aggregation (r13 optimization hook): callers that
        # want counts AND the tolerance verdict previously ran the exact
        # percentile agg twice — once inside each operator. The counting
        # pass and its unpivot are identical to outlier_counts', so the
        # joined rows match the two-operator composition exactly.
        joined = cf.df.crossJoin(F.broadcast(exact))
        aggs = [
            F.sum(
                (
                    (qcol(c) < qcol("lo::" + c)) | (qcol(c) > qcol("hi::" + c))
                ).cast("long")
            ).alias(c)
            for c in cols
        ]
        counts = joined.agg(*aggs).unpivot([], cols, "variable", "n_removed")
        out = counts.join(out, "variable")
    return out


def clip_outliers(
    cf: ClariteFrame,
    method: str = "gaussian",
    cutoff: float = 3.0,
    skip=None,
    only=None,
    exact: bool = True,
) -> ClariteFrame:
    """Winsorize: CLAMP continuous outliers to the cutoff bound instead
    of nulling them — ``remove_outliers``' value-preserving sibling for
    pipelines where sample size matters more than the tail (clipping a
    feature keeps the row complete for a downstream regression; nulling
    it can drop the whole observation under complete-case analysis).

    Same bounds and the same plan as ``remove_outliers``
    (modify.py:_outlier_bounds): one stats agg over all columns
    broadcast back onto the data, the clamp a codegen
    ``greatest(least(x, hi), lo)`` — two scans total, and
    ``exact=False`` switches the IQR percentiles to the sketch form at
    100 TB.
    """
    if cutoff <= 0:
        raise ValueError("cutoff must be positive")
    cols = [c for c in validate_skip_only(cf.variables, skip, only) if cf.catalog.get(c) == CONTINUOUS]
    if not cols:
        return _report(cf.with_df(cf.df), {"columns": []})
    stats = _outlier_bounds(cf.df, cols, method, cutoff, exact)
    joined = cf.df.crossJoin(F.broadcast(stats))
    colset = set(cols)
    new_df = joined.select(
        *[
            (
                F.when(qcol(c).isNull(), F.lit(None))
                .otherwise(
                    F.greatest(F.least(qcol(c), qcol("hi::" + c)), qcol("lo::" + c))
                )
                .alias(c)
                if c in colset
                else qcol(c)
            )
            for c in cf.df.columns
        ]
    )
    return _report(cf.with_df(new_df), {"columns": cols, "method": method, "cutoff": cutoff})


def transform(cf: ClariteFrame, transform_method, skip=None, only=None) -> ClariteFrame:
    """Apply a unary function to continuous variables (modify.py:944-1008,
    apply :1000).

    Named methods resolve to a registry of JVM-side functions — no Python
    in the hot path. A user *callable* (the reference accepts any method
    ``data.apply`` can run) falls back to an Arrow-batched pandas UDF:
    the callable receives a ``pd.Series`` per batch and must return a
    same-length array-like (numpy ufuncs work as-is)."""
    registry = {
        "log": F.log,
        "log10": F.log10,
        "log2": F.log2,
        "log1p": F.log1p,
        "sqrt": F.sqrt,
        "exp": F.exp,
        "abs": F.abs,
        "cbrt": F.cbrt,
        "reciprocal": lambda c: F.lit(1.0) / c,
        "zscore": None,  # handled below (needs a stats pass)
    }
    if not isinstance(transform_method, str) and callable(transform_method):
        return _transform_callable(cf, transform_method, skip, only)
    if transform_method not in registry:
        raise ValueError(f"transform_method must be one of {sorted(registry)}")
    cols = [c for c in validate_skip_only(cf.variables, skip, only) if cf.catalog.get(c) == CONTINUOUS]
    if transform_method == "zscore":
        stats = cf.df.agg(
            *[F.mean(c).alias(f"mu::{c}") for c in cols],
            *[F.stddev_samp(c).alias(f"sd::{c}") for c in cols],
        )
        joined = cf.df.crossJoin(F.broadcast(stats))
        new_df = joined.select(
            *[
                ((qcol(c) - qcol("mu::" + c)) / qcol("sd::" + c)).alias(c)
                if c in set(cols)
                else qcol(c)
                for c in cf.df.columns
            ]
        )
    else:
        fn = registry[transform_method]
        new_df = cf.df.select(
            *[fn(qcol(c)).alias(c) if c in set(cols) else qcol(c) for c in cf.df.columns]
        )
    return _report(cf.with_df(new_df), {"columns": cols, "method": transform_method})


def _transform_callable(cf: ClariteFrame, fn, skip=None, only=None) -> ClariteFrame:
    """User-function fallback for :func:`transform` (reference
    modify.py:944-1008 applies any named method via ``data.apply``).

    One Arrow-batched scalar pandas UDF shared by all continuous columns;
    per-batch, not per-row — the slow path, but vectorized."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def _apply(s: pd.Series) -> pd.Series:
        out = fn(s)
        return pd.Series(out, index=s.index, dtype="float64")

    cols = [c for c in validate_skip_only(cf.variables, skip, only) if cf.catalog.get(c) == CONTINUOUS]
    colset = set(cols)
    new_df = cf.df.select(
        *[
            _apply(qcol(c).cast("double")).alias(c) if c in colset else qcol(c)
            for c in cf.df.columns
        ]
    )
    name = getattr(fn, "__name__", None) or "callable"
    return _report(cf.with_df(new_df), {"columns": cols, "method": name})


def drop_extra_categories(cf: ClariteFrame, skip=None, only=None) -> ClariteFrame:
    """Refresh cached category levels from the data, removing levels with
    zero occurrences (modify.py:1012-1061; kernel utilities.py:197-232).

    Values never change — only the catalog's level sets. One collect_set
    agg pass over the categorical columns."""
    cols = [
        c
        for c in validate_skip_only(cf.variables, skip, only)
        if cf.catalog.get(c) in (BINARY, CATEGORICAL, CONSTANT)
    ]
    out = cf.with_df(cf.df)
    removed: dict[str, list] = {}
    if cols:
        levels = cf.df.agg(*[F.collect_set(qcol(c)).alias(c) for c in cols]).collect()[0].asDict()
        for c in cols:
            present = sorted(levels[c])
            old = out.catalog.categories.get(c)
            if old is not None and set(old) - set(present):
                removed[c] = sorted(set(old) - set(present))
            out.catalog.categories[c] = present
    return _report(out, {"removed_levels": removed})


# --------------------------------------------------------------------------
# joins / set ops
# --------------------------------------------------------------------------


def merge_variables(
    left: ClariteFrame, right: ClariteFrame, how: str = "outer", broadcast_right: bool = False
) -> ClariteFrame:
    """Side-by-side merge on ID (modify.py:848-885, kernel :881).

    Equi-join on the unique key; pass ``broadcast_right=True`` when the
    right side is a small dimension so Catalyst plans a broadcast-hash
    join instead of a shuffle."""
    if how not in ("left", "right", "inner", "outer"):
        raise ValueError("how must be left/right/inner/outer")
    overlap = set(left.variables) & set(right.variables)
    if overlap:
        raise ValueError(f"duplicate variable names in merge: {sorted(overlap)}")
    rdf = F.broadcast(right.df) if broadcast_right else right.df
    df = left.df.join(rdf, on=ID_COL, how=how)
    catalog = left.catalog.copy()
    catalog.types.update(right.catalog.types)
    catalog.categories.update(right.catalog.categories)
    return ClariteFrame(df, catalog)


def merge_observations(top: ClariteFrame, bottom: ClariteFrame, check_duplicates: bool = True) -> ClariteFrame:
    """Vertical concat keeping only common columns (modify.py:785-844).

    Errors on duplicate IDs across the two frames (ref :801-805) and on
    semantic-type mismatches (ref :826-843). The duplicate check is one
    distributed semi-join-shaped count, done only when requested."""
    common = [c for c in top.variables if c in set(bottom.variables)]
    mismatch = {
        c: (top.catalog.get(c), bottom.catalog.get(c))
        for c in common
        if top.catalog.get(c) != bottom.catalog.get(c)
    }
    if mismatch:
        raise ValueError(f"variable type mismatch in merge_observations: {mismatch}")
    t = top.df.select(ID_COL, *[qcol(c).alias(c) for c in common])
    b = bottom.df.select(ID_COL, *[qcol(c).alias(c) for c in common])
    df = t.unionByName(b)
    if check_duplicates:
        dups = df.groupBy(ID_COL).count().where(F.col("count") > 1).limit(1).count()
        if dups:
            raise ValueError("merge_observations: duplicate IDs across frames")
    catalog = VariableCatalog(
        {c: top.catalog.types.get(c, UNKNOWN) for c in common},
        {c: top.catalog.categories[c] for c in common if c in top.catalog.categories},
    )
    return ClariteFrame(df, catalog)


def move_variables(
    left: ClariteFrame, right: ClariteFrame, skip=None, only=None
) -> tuple[ClariteFrame, ClariteFrame]:
    """Move columns from ``left`` into ``right`` (modify.py:889-940):
    projection on the left + equi-join on ID on the right."""
    moving = validate_skip_only(left.variables, skip, only)
    new_left = left.select_variables([c for c in left.variables if c not in set(moving)])
    moved = left.df.select(ID_COL, *[qcol(c).alias(c) for c in moving])
    new_right_df = right.df.join(moved, on=ID_COL, how="left")
    catalog = right.catalog.copy()
    for c in moving:
        catalog.types[c] = left.catalog.types.get(c, UNKNOWN)
        if c in left.catalog.categories:
            catalog.categories[c] = left.catalog.categories[c]
    return new_left, ClariteFrame(new_right_df, catalog)
