"""Descriptive-statistics operators (reference ``clarite/modules/describe.py``).

``percent_na``, ``skewness``, ``freq_table`` and ``correlations`` (up to
its ``_wide_limit`` continuous columns) read the frame's profile
(functions/profile.py): ONE ``mapInArrow`` pass per frame state gives
the counts, level histograms, central moments and the pairwise-complete
correlation block, so the four of them scan a frame once between them,
and not at all when the QC operator before them left a profile on it.
Wider correlation sets take the blocked masked-Gram path
(functions/blockcorr.py); the categorical pair measures (``cramers_v``,
``mutual_information``, ``theils_u``) build their contingency cells in
one exploded scan of their own.

Result tables are small (one row per variable, level or pair). Rows
computed on the driver are sorted there, in Python, and returned by
``catalog.local_frame`` as a local relation: collecting it, or a
projection over it, runs no Spark job. ``freq_table`` renders its values
with Spark's ``CAST(... AS STRING)`` in such a projection, so 1e7 reads
``1.0E7`` as it always did. The categorical pair measures stay lazy
and end in an ``orderBy``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from clarite_python_spark.catalog import (
    BINARY,
    CATEGORICAL,
    CONSTANT,
    CONTINUOUS,
    ClariteFrame,
    local_frame,
    qcol,
    validate_skip_only,
)
from clarite_python_spark.functions.distributions import skewtest_z_p
from clarite_python_spark.functions.profile import GRAM_LIMIT, Profile, frame_profile

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


CORRELATIONS_SCHEMA = "var1 string, var2 string, correlation double"
FREQ_SCHEMA = "variable string, value string, count long"
PERCENT_NA_SCHEMA = "variable string, percent_na double"
SKEWNESS_SCHEMA = "variable string, skew double, zscore double, pvalue double"


def correlations(cf: ClariteFrame, threshold: float = 0.75, _wide_limit: int = GRAM_LIMIT) -> DataFrame:
    """Pairwise Pearson correlations above ``threshold``
    (reference describe.py:26-75): corr matrix -> upper triangle ->
    (var1, var2, correlation) -> filter |corr| >= threshold -> sort by
    |corr| desc.

    For up to ``_wide_limit`` continuous columns the matrix is the
    profile's pairwise-complete block: the same pairwise null handling
    as pandas ``df.corr``, and NaN (so filtered out) where a column is
    constant on the pair's rows, as pandas gives it, or holds NaN or
    ±inf, as Spark's ``corr`` gives it. Wider frames take the blocked masked-Gram path
    (functions/blockcorr.py): per block-row jobs whose partial
    sufficient statistics are summed on executors, with the threshold
    filter applied INSIDE the worker — no p x p matrix on the driver (or
    anywhere), so p = 5,000+ columns hold.
    """
    cols = [c for c in cf.variables if cf.catalog.get(c) == CONTINUOUS]
    if len(cols) < 2:
        return local_frame([], CORRELATIONS_SCHEMA)
    if len(cols) <= _wide_limit:
        prof = frame_profile(cf, gram_cols=cols)
        pos = {c: i for i, c in enumerate(prof.corr_cols)}
        data = []
        for i, a in enumerate(cols):
            for b in cols[i + 1 :]:
                r = float(prof.corr[pos[a], pos[b]])
                if abs(r) >= threshold:  # False for NaN
                    data.append((a, b, r))
    else:
        from clarite_python_spark.functions.blockcorr import block_correlations

        data = block_correlations(cf.df, cols, threshold=threshold)
    # |corr| desc, then names: no NaN survives the threshold filter, and
    # Python's code-point string order equals Spark's UTF-8 byte order
    data.sort(key=lambda t: (-abs(t[2]), t[0], t[1]))
    return local_frame(data, CORRELATIONS_SCHEMA)


def freq_table(cf: ClariteFrame, skip=None, only=None) -> DataFrame:
    """Value counts per categorical variable (describe.py:78-135).

    Binary/categorical/constant columns list their levels with counts,
    from the profile's level histograms (a column with more than
    ``LEVEL_CAP`` levels raises ``ValueError``); any other column gives
    one ``<Non-Categorical Values>`` row with its non-NA count. Rows are
    sorted by variable, count desc, value."""
    cols = validate_skip_only(cf.variables, skip, only)
    if not cols:
        return local_frame([], FREQ_SCHEMA)
    cat_cols = [c for c in cols if cf.catalog.get(c) in (BINARY, CATEGORICAL, CONSTANT)]
    prof = frame_profile(cf)
    hist = prof.level_counts(cat_cols)
    rendered = _render_levels(prof, hist)
    rows = [(c, "<Non-Categorical Values>", prof.nonnull[c]) for c in cols if c not in hist]
    for c, levels in hist.items():
        rows += [(c, s, k) for s, (_, k) in zip(rendered[c], levels)]
    rows.sort(key=lambda r: (r[0], -r[2], r[1]))
    return local_frame(rows, FREQ_SCHEMA)


def _render_levels(prof: Profile, hist: dict) -> dict:
    """Each level as Spark's ``CAST(... AS STRING)`` renders it: one
    projection over a local relation of the levels (a column per value
    type), which runs no job."""
    if not any(hist.values()):
        return {c: [] for c in hist}
    slot: dict[str, int] = {}
    fields = []
    for c in hist:
        key = prof.dtypes[c].simpleString()
        if key not in slot:
            slot[key] = len(fields)
            fields.append(T.StructField(f"_{len(fields)}", prof.dtypes[c]))
    rows, owner = [], []
    for c, levels in hist.items():
        i = slot[prof.dtypes[c].simpleString()]
        for v, _ in levels:
            row = [None] * len(fields)
            row[i] = v
            rows.append(row)
            owner.append((c, i))
    out = local_frame(rows, T.StructType(fields)).selectExpr(
        *[f"CAST(_{i} AS STRING) AS _{i}" for i in range(len(fields))]
    )
    rendered: dict[str, list] = {c: [] for c in hist}
    for (c, i), r in zip(owner, out.collect()):
        rendered[c].append(r[i])
    return rendered


def get_types(cf: ClariteFrame) -> DataFrame:
    """CLARITE type per variable (describe.py:138-163) — catalog lookup,
    no data scan."""
    return local_frame([(c, cf.catalog.get(c)) for c in cf.variables], "variable string, type string")


def percent_na(cf: ClariteFrame, skip=None, only=None) -> DataFrame:
    """Percent NA per variable (describe.py:166-194, kernel :191), from
    the profile's counts: ``(1.0 - n / rows) * 100.0``, the operation
    order Spark's ``count(c) / count(1)`` had, and NaN for every
    variable of an empty frame (pandas' 0/0)."""
    cols = validate_skip_only(cf.variables, skip, only)
    if not cols:
        return local_frame([], PERCENT_NA_SCHEMA)
    prof = frame_profile(cf)
    nan = float("nan")
    data = [(c, (1.0 - prof.nonnull[c] / prof.rows) * 100.0 if prof.rows else nan) for c in sorted(cols)]
    return local_frame(data, PERCENT_NA_SCHEMA)


def skewness(cf: ClariteFrame, dropna: bool = True, skip=None, only=None) -> DataFrame:
    """Skew + D'Agostino skew-test z and two-sided p per continuous
    variable (describe.py:197-253, kernels :244-248).

    The skew is Spark's ``skewness``, the population g1 = m3/m2^1.5 —
    the statistic scipy's ``skew(bias=True)`` default returns — from the
    profile's merged central moments. The skew-test z/p are closed-form
    functions of (g1, n), evaluated driver-side (see
    functions/distributions.py). With ``dropna=False`` any NA in the
    column makes the result NaN (scipy nan_policy='propagate')."""
    cols = [c for c in validate_skip_only(cf.variables, skip, only) if cf.catalog.get(c) == CONTINUOUS]
    if not cols:
        return local_frame([], SKEWNESS_SCHEMA)
    prof = frame_profile(cf, moment_cols=cols)
    nan = float("nan")
    data = []
    for c in sorted(cols):
        g1, n = prof.skewness(c), prof.nonnull[c]
        if not dropna and n < prof.rows:
            data.append((c, nan, nan, nan))
        elif g1 is None or n < 8:
            data.append((c, nan if g1 is None else g1, nan, nan))
        else:
            data.append((c, g1, *skewtest_z_p(g1, n)))
    return local_frame(data, SKEWNESS_SCHEMA)


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
    if len(cat_cols) < 2:
        return local_frame([], "var1 string, var2 string, n long, chi2 double, cramers_v double")
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
        return local_frame([], "var1 string, var2 string, n long, mi double, nmi double")
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
        return local_frame(
            [],
            "var1 string, var2 string, n long, u_var1_given_var2 double, u_var2_given_var1 double",
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
