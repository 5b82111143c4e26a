"""Descriptive-statistics operators (reference ``clarite/modules/describe.py``).

All are expressed as batched single-pass aggregations (one scan for any
number of columns) followed by a driver-side or Expand-based reshape of
the tiny (1 x N) stats row — never one job per column. Each wide
aggregation is rendered as ONE ``selectExpr`` parse rather than one
``Column`` per variable (each ``Column`` costs py4j round trips).

Result tables are small (one row per variable or per pair), so they are
sorted on ONE partition: rows already on the driver are sorted in Python
before ``createDataFrame`` (collecting them runs no Spark job), and
Spark-side results go through ``catalog.sort_result`` — a global
``orderBy`` would plan a range exchange whose sampling job runs the
aggregation a second time.
"""

from __future__ import annotations

from itertools import combinations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from clarite_python_spark.catalog import (
    BINARY,
    CATEGORICAL,
    CONSTANT,
    CONTINUOUS,
    ID_COL,
    ClariteFrame,
    qcol,
    qname,
    sort_result,
    validate_skip_only,
)
from clarite_python_spark.functions.distributions import skewtest_z_p

__all__ = [
    "correlations",
    "cramers_v",
    "mutual_information",
    "theils_u",
    "freq_table",
    "get_types",
    "percent_na",
    "skewness",
    "summarize",
]


def correlations(cf: ClariteFrame, threshold: float = 0.75, _wide_limit: int = 80) -> DataFrame:
    """Pairwise Pearson correlations above ``threshold``
    (reference describe.py:26-75): corr matrix -> upper triangle ->
    (var1, var2, correlation) -> filter |corr| >= threshold -> sort by
    |corr| desc.

    Spark plan: for up to ``_wide_limit`` numeric columns, ONE agg with
    C(p,2) ``F.corr`` expressions — a single scan, and F.corr's pairwise
    null handling matches pandas ``df.corr`` semantics. For wider frames
    the quadratic expression count stops paying, and we switch to the
    blocked masked-Gram path (functions/blockcorr.py): per block-row
    jobs whose partial sufficient statistics are summed on executors,
    with the threshold filter applied INSIDE the worker — the same
    pairwise-complete semantics, no p x p matrix on the driver (or
    anywhere), so p = 5,000+ columns hold.
    """
    cols = [c for c in cf.variables if cf.catalog.get(c) == CONTINUOUS]
    pairs = list(combinations(cols, 2))
    spark = cf.df.sparkSession
    if not pairs:
        return spark.createDataFrame([], "var1 string, var2 string, correlation double")
    if len(cols) <= _wide_limit:
        aggs = [f"corr({qname(a)}, {qname(b)}) AS {qname(f'{a}::{b}')}" for a, b in pairs]
        row = cf.df.selectExpr(*aggs).collect()[0]
        data = [
            (a, b, float(row[f"{a}::{b}"]))
            for a, b in pairs
            if row[f"{a}::{b}"] is not None and abs(row[f"{a}::{b}"]) >= threshold
        ]
    else:
        from clarite_python_spark.functions.blockcorr import block_correlations

        data = block_correlations(cf.df, cols, threshold=threshold)
    # |corr| desc, then names: no NaN survives the threshold filter, and
    # Python's code-point string order equals Spark's UTF-8 byte order
    data.sort(key=lambda t: (-abs(t[2]), t[0], t[1]))
    return spark.createDataFrame(data, "var1 string, var2 string, correlation double")


def freq_table(cf: ClariteFrame, skip=None, only=None) -> DataFrame:
    """Value counts per categorical variable (describe.py:78-135).

    Categorical/binary/constant columns are unpivoted and counted in ONE
    ``groupBy(variable, value)`` job (map-side combine keeps the shuffle at
    |variables| x |levels| rows); non-categorical columns contribute a
    single ``<Non-Categorical Values>`` row with their non-NA count,
    computed in the same batched agg style."""
    cols = validate_skip_only(cf.variables, skip, only)
    cat_cols = [c for c in cols if cf.catalog.get(c) in (BINARY, CATEGORICAL, CONSTANT)]
    other_cols = [c for c in cols if c not in set(cat_cols)]
    spark = cf.df.sparkSession
    parts = []
    if cat_cols:
        long = cf.df.selectExpr(
            *[f"CAST({qname(c)} AS STRING) AS {qname(c)}" for c in cat_cols]
        ).unpivot([], None, "variable", "value")
        parts.append(
            long.where(F.col("value").isNotNull())
            .groupBy("variable", "value")
            .agg(F.count(F.lit(1)).alias("count"))
        )
    if other_cols:
        row = cf.df.selectExpr(*[f"count({qname(c)}) AS {qname(c)}" for c in other_cols])
        counts = row.unpivot([], None, "variable", "count").select(
            "variable", F.lit("<Non-Categorical Values>").alias("value"), F.col("count")
        )
        parts.append(counts)
    if not parts:
        return spark.createDataFrame([], "variable string, value string, count long")
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return sort_result(out, "variable", F.col("count").desc(), "value")


def get_types(cf: ClariteFrame) -> DataFrame:
    """CLARITE type per variable (describe.py:138-163) — catalog lookup,
    no data scan."""
    spark = cf.df.sparkSession
    data = [(c, cf.catalog.get(c)) for c in cf.variables]
    return spark.createDataFrame(data, "variable string, type string")


def percent_na(cf: ClariteFrame, skip=None, only=None) -> DataFrame:
    """Percent NA per variable (describe.py:166-194, kernel :191).
    One agg scan, reshaped with a 1-row unpivot."""
    cols = validate_skip_only(cf.variables, skip, only)
    # 1.0D / 100.0D: a bare 1.0 is a DECIMAL literal in Spark SQL
    row = cf.df.selectExpr(
        *[f"((1.0D - (count({qname(c)}) / count(1))) * 100.0D) AS {qname(c)}" for c in cols]
    )
    return sort_result(row.unpivot([], None, "variable", "percent_na"), "variable")


def skewness(cf: ClariteFrame, dropna: bool = True, skip=None, only=None) -> DataFrame:
    """Skew + D'Agostino skew-test z and two-sided p per continuous
    variable (describe.py:197-253, kernels :244-248).

    ``F.skewness`` computes the population g1 = m3/m2^1.5 — the same
    statistic scipy's ``skew(bias=True)`` default returns. The skew-test
    z/p are closed-form functions of (g1, n), evaluated driver-side from
    the single aggregated stats row (see functions/distributions.py).
    With ``dropna=False`` any NA in the column makes the result NaN
    (scipy nan_policy='propagate')."""
    cols = [c for c in validate_skip_only(cf.variables, skip, only) if cf.catalog.get(c) == CONTINUOUS]
    spark = cf.df.sparkSession
    if not cols:
        return spark.createDataFrame(
            [], "variable string, skew double, zscore double, pvalue double"
        )
    row = (
        cf.df.selectExpr(
            *[f"skewness({qname(c)}) AS {qname('g1::' + c)}" for c in cols],
            *[f"count({qname(c)}) AS {qname('n::' + c)}" for c in cols],
            "count(1) AS `n::__rows__`",
        )
        .collect()[0]
        .asDict()
    )
    data = []
    for c in cols:
        g1, n = row[f"g1::{c}"], row[f"n::{c}"]
        if not dropna and n < row["n::__rows__"]:
            data.append((c, float("nan"), float("nan"), float("nan")))
            continue
        if g1 is None or n is None or n < 8:
            data.append((c, float(g1) if g1 is not None else float("nan"), float("nan"), float("nan")))
            continue
        z, p = skewtest_z_p(float(g1), int(n))
        data.append((c, float(g1), z, p))
    data.sort(key=lambda t: t[0])
    return spark.createDataFrame(
        data, "variable string, skew double, zscore double, pvalue double"
    )


def summarize(cf: ClariteFrame) -> dict:
    """Row count + per-type variable counts (describe.py:256-287)."""
    type_counts = {t: 0 for t in (CONSTANT, BINARY, CATEGORICAL, CONTINUOUS)}
    for c in cf.variables:
        t = cf.catalog.get(c)
        if t in type_counts:
            type_counts[t] += 1
        else:
            type_counts[t] = type_counts.get(t, 0) + 1
    return {"rows": cf.df.count(), "types": type_counts}


def _pair_cell_table(cf: ClariteFrame, cat_cols: list) -> DataFrame:
    """Contingency cells (var1, var2, va, vb, o) for every categorical
    pair — the shared kernel of cramers_v / mutual_information /
    theils_u.

    Width guard (the categorical sibling of ``correlations``'
    ``_wide_limit`` + blockcorr): a naive single explode emits C(p,2)
    4-field structs PER DATA ROW from an O(p²)-expression generator —
    at the reference's canonical ~970-variable width that is ~470k
    structs/row and a plan Janino cannot even compile (measured: ~9 s
    codegen per 500-struct Generate, heap-OOM by 40 of them). Instead
    each row builds ONE p-element (i, var, val) array — O(p)
    expressions — and the pairing is two nested Generates: explode the
    array, then explode ``slice(arr, i+2, p-i-1)`` so only i<j partners
    generate. The pair stream is pipelined straight into the map-side
    combine of the cell groupBy, so nothing O(p²) is ever materialized
    per row; the shuffle stays |pairs| x |levels²| cells, one scan, at
    any width. Pair order (var1 before var2) follows ``cat_cols``
    position exactly like ``itertools.combinations`` did.
    """
    p = len(cat_cols)
    arr = F.array(
        *[
            F.struct(
                F.lit(i).alias("i"),
                F.lit(c).alias("var"),
                qcol(c).cast("string").alias("val"),
            )
            for i, c in enumerate(cat_cols)
        ]
    )
    left = cf.df.select(arr.alias("__a")).select(
        "__a", F.explode("__a").alias("x")
    )
    paired = left.select(
        F.col("x.var").alias("var1"),
        F.col("x.val").alias("va"),
        F.explode(
            F.slice(F.col("__a"), F.col("x.i") + 2, F.lit(p - 1) - F.col("x.i"))
        ).alias("y"),
    ).select(
        "var1",
        F.col("y.var").alias("var2"),
        "va",
        F.col("y.val").alias("vb"),
    )
    return (
        paired.where(F.col("va").isNotNull() & F.col("vb").isNotNull())
        .groupBy("var1", "var2", "va", "vb")
        .agg(F.count(F.lit(1)).alias("o"))
    )


def cramers_v(cf: ClariteFrame, skip=None, only=None) -> DataFrame:
    """Pairwise association between CATEGORICAL variables — Cramér's V
    with the same role :func:`correlations` plays for continuous ones
    (the reference's correlations operator, describe.py:26-75, is
    Pearson-only; redundant-covariate screening for the categorical
    half of an EWAS needs the chi-square analogue).

    V = sqrt(chi2 / (n * (min(r, c) - 1))) over the pair's
    complete-case contingency table. chi2 uses the closed form
    n * (sum_cells o^2 / (rowmargin * colmargin) - 1), which equals the
    textbook sum over ALL r x c cells including empty ones (an absent
    cell contributes its full expectation) without materializing them.
    Pairs involving a constant (or anything with min(r,c) = 1) return
    NULL — V is undefined there, not 0.

    Plan: ONE scan — each row builds a p-element array and two nested
    Generates stream its i<j pairs into a map-side-combined groupBy
    that builds every pair's contingency cells at once (shuffle =
    |pairs| x |levels_a x levels_b| rows, not data rows; see
    :func:`_pair_cell_table` for the any-width guarantee), then margins
    and the per-pair reduction are joins/aggs over that tiny cell
    table. No per-pair jobs, no window over data rows.
    Returns (var1, var2, n, chi2, cramers_v) sorted by V desc.
    """
    cols = validate_skip_only(cf.variables, skip, only)
    cat_cols = [
        c for c in cols if cf.catalog.get(c) in (BINARY, CATEGORICAL, CONSTANT)
    ]
    spark = cf.df.sparkSession
    if len(cat_cols) < 2:
        return spark.createDataFrame(
            [],
            "var1 string, var2 string, n long, chi2 double, cramers_v double",
        )
    cells = _pair_cell_table(cf, cat_cols)
    ra = cells.groupBy("var1", "var2", "va").agg(F.sum("o").alias("ra"))
    cb = cells.groupBy("var1", "var2", "vb").agg(F.sum("o").alias("cb"))
    joined = cells.join(ra, ["var1", "var2", "va"]).join(
        cb, ["var1", "var2", "vb"]
    )
    per_pair = joined.groupBy("var1", "var2").agg(
        F.sum("o").alias("n"),
        F.sum(
            F.col("o").cast("double") * F.col("o") / (F.col("ra") * F.col("cb"))
        ).alias("__s"),
        F.countDistinct("va").alias("__r"),
        F.countDistinct("vb").alias("__c"),
    )
    chi2 = F.col("n") * (F.col("__s") - F.lit(1.0))
    denom = F.col("n") * (F.least("__r", "__c") - F.lit(1)).cast("double")
    return (
        per_pair.select(
            "var1",
            "var2",
            "n",
            F.round(chi2, 6).alias("chi2"),
            F.when(denom > 0, F.round(F.sqrt(chi2 / denom), 6)).alias(
                "cramers_v"
            ),
        )
        .orderBy(F.desc_nulls_last("cramers_v"), "var1", "var2")
    )


def _pairwise_mi(cf: ClariteFrame, skip, only) -> "DataFrame | None":
    """Shared engine for mutual_information / theils_u: per categorical
    pair, (var1, var2, n, __mi, __h_ra, __h_cb) — observed-cell MI plus
    both margin entropies, from the nested-Generate single scan of
    :func:`_pair_cell_table` (cramers_v's plan, any-width safe).
    Returns None when no pair exists."""
    cols = validate_skip_only(cf.variables, skip, only)
    cat_cols = [
        c for c in cols if cf.catalog.get(c) in (BINARY, CATEGORICAL, CONSTANT)
    ]
    if len(cat_cols) < 2:
        return None
    cells = _pair_cell_table(cf, cat_cols)
    ra = cells.groupBy("var1", "var2", "va").agg(F.sum("o").alias("ra"))
    cb = cells.groupBy("var1", "var2", "vb").agg(F.sum("o").alias("cb"))
    n_pair = cells.groupBy("var1", "var2").agg(F.sum("o").alias("n"))
    joined = (
        cells.join(ra, ["var1", "var2", "va"])
        .join(cb, ["var1", "var2", "vb"])
        .join(F.broadcast(n_pair), ["var1", "var2"])
    )
    mi_pair = joined.groupBy("var1", "var2").agg(
        F.first("n").alias("n"),
        F.sum(
            (F.col("o") / F.col("n"))
            * F.log(
                F.col("o").cast("double")
                * F.col("n")
                / (F.col("ra") * F.col("cb"))
            )
        ).alias("__mi"),
    )

    def ent(tbl, margin):
        return (
            tbl.join(F.broadcast(n_pair), ["var1", "var2"])
            .groupBy("var1", "var2")
            .agg(
                (
                    -F.sum(
                        (F.col(margin) / F.col("n"))
                        * F.log(F.col(margin).cast("double") / F.col("n"))
                    )
                ).alias(f"__h_{margin}")
            )
        )

    return mi_pair.join(ent(ra, "ra"), ["var1", "var2"]).join(
        ent(cb, "cb"), ["var1", "var2"]
    )


def mutual_information(cf: ClariteFrame, skip=None, only=None) -> DataFrame:
    """Pairwise mutual information between CATEGORICAL variables — the
    information-theoretic companion to :func:`cramers_v` (V measures
    association strength against a chi-square null; MI measures the
    shared bits directly and is the standard redundancy screen before
    feature selection). Reported in nats, with the normalized form
    NMI = MI / min(H(a), H(b)) in [0, 1] for cross-pair comparability
    (NULL when either variable is constant on the pair's complete
    cases — normalization is undefined, not 0).

    MI = sum over observed cells (o/n) * ln(o*n / (ra*cb)); absent
    cells contribute exactly 0, so the observed-cell sum IS the full
    sum — same trick as cramers_v's closed-form chi2, no r x c
    materialization.

    Plan: identical to cramers_v — one exploded scan builds every
    pair's contingency cells map-side-combined; margins, entropies,
    and the per-pair reduction are aggs over that O(|pairs| x levels²)
    cell table. No per-pair jobs.
    """
    out = _pairwise_mi(cf, skip, only)
    if out is None:
        return cf.df.sparkSession.createDataFrame(
            [],
            "var1 string, var2 string, n long, mi double, nmi double",
        )
    hmin = F.least("__h_ra", "__h_cb")
    return out.select(
        "var1",
        "var2",
        "n",
        F.round("__mi", 6).alias("mi"),
        F.when(hmin > 1e-12, F.round(F.col("__mi") / hmin, 6)).alias("nmi"),
    ).orderBy(F.desc_nulls_last("nmi"), "var1", "var2")


def theils_u(cf: ClariteFrame, skip=None, only=None) -> DataFrame:
    """Theil's uncertainty coefficient between CATEGORICAL variables —
    the ASYMMETRIC redundancy screen: U(x|y) = MI / H(x) is the fraction
    of x's entropy explained by knowing y, which is NOT the same both
    ways (a fine-grained variable can fully determine a coarse one while
    remaining mostly unexplained by it — NMI averages that distinction
    away). One row per unordered pair carries both directions:
    (var1, var2, n, u_var1_given_var2, u_var2_given_var1); a direction
    is NULL when the explained variable is constant (H = 0).

    Same single-exploded-scan cell plan as :func:`mutual_information` /
    :func:`cramers_v`.
    """
    out = _pairwise_mi(cf, skip, only)
    if out is None:
        return cf.df.sparkSession.createDataFrame(
            [],
            "var1 string, var2 string, n long, "
            "u_var1_given_var2 double, u_var2_given_var1 double",
        )
    return out.select(
        "var1",
        "var2",
        "n",
        F.when(
            F.col("__h_ra") > 1e-12, F.round(F.col("__mi") / F.col("__h_ra"), 6)
        ).alias("u_var1_given_var2"),
        F.when(
            F.col("__h_cb") > 1e-12, F.round(F.col("__mi") / F.col("__h_cb"), 6)
        ).alias("u_var2_given_var1"),
    ).orderBy("var1", "var2")
