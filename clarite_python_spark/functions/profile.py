"""The frame profile: one scan feeds every column statistic of QC and describe.

``categorize``, ``colfilter_min_n``, ``colfilter_min_cat_n``,
``percent_na``, ``skewness``, ``freq_table`` and ``correlations`` (up to
its ``_wide_limit``) all read per-column statistics of the same frame.
Each used to re-aggregate the frame on its own; now they read one
:class:`Profile`, computed by ONE ``mapInArrow`` pass:

- each partition streams its Arrow batches into partial sufficient
  statistics, so a task holds O(p² + p·LEVEL_CAP) values, never rows;
- a single-partition exchange merges the per-partition partials in
  Spark, so the driver collects ONE row whatever the row or partition
  count.

What the profile holds, per column: the row and non-null counts; a level
histogram, exact up to ``LEVEL_CAP`` levels and an overflow flag beyond
(a partition stops hashing a column once it overflows); for non-numeric
columns the count of non-null values that fail Spark's numeric cast,
projected as a JVM expression so Spark's cast semantics hold; for the
moment columns (numeric, plus any continuous ones a reader asks for)
n, mean, M2 and M3, merged with the Chan / Pébay pairwise formulas (the
ones Spark's own central-moment aggregates use). For at most
``GRAM_LIMIT`` continuous columns it also holds a pairwise-complete
block: pair counts, plus sums, squares and cross-products of values
centred per batch, shifted to a common origin when merged. Raw power
sums would not do: on a column offset by 1e6 they miss pandas' ``corr``
by ~1e-3, centred and shifted sums by ~1e-11.

Grouping follows Spark's semantics: validity comes from Arrow (NaN is a
value, not a null), all NaNs are one level, and -0.0 and 0.0 are one
level. Level lists are sorted Python values as ``collect_set`` would
return them (NaN last, as Spark sorts it).

The profile rides on the ``ClariteFrame`` (``cf.profile``), so a frame
state is scanned once however many readers look at it:
``select_variables`` keeps it, restricted to the surviving columns;
``with_df`` (row filters, value rewrites, type marks) drops it.
``categorize`` always scans its input and attaches the profile to its
output only; every other reader goes through :func:`frame_profile`,
which computes a missing or insufficient profile and memoizes it on the
frame it was given.
"""

from __future__ import annotations

import pickle
from collections import Counter
from dataclasses import dataclass, field
from typing import Iterator, Sequence

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import types as T

from clarite_python_spark.catalog import CONTINUOUS, ClariteFrame, _is_numeric, qname

__all__ = ["GRAM_LIMIT", "LEVEL_CAP", "Profile", "compute_profile", "frame_profile"]

# Levels tracked exactly per column; past this a column only reports
# that it has more. categorize's thresholds must sit at or below it.
LEVEL_CAP = 1024
# Continuous columns covered by the pairwise-complete block (the
# default ``_wide_limit`` of describe.correlations; wider frames use
# functions/blockcorr.py).
GRAM_LIMIT = 80


# ---- the executor side: partial sufficient statistics ------------------------


@dataclass
class _Partial:
    """Mergeable statistics of some rows. ``hist[i]`` is None once
    column i has more than LEVEL_CAP levels; NaN is counted in ``nan``,
    not in the histogram. ``mom`` rows are (n, mean, M2, M3);
    ``gram`` holds the pairwise-complete block about origin ``c``."""

    rows: int
    nonnull: np.ndarray
    bad: np.ndarray
    nan: np.ndarray
    hist: list
    mom: np.ndarray
    gram: dict | None


def _empty(p: int, m: int, g: int) -> _Partial:
    gram = None
    if g:
        z = np.zeros((g, g))
        gram = {"c": np.zeros(g), "N": z, "Sa": z, "Saa": z, "Sab": z, "K": z}
    return _Partial(
        0, np.zeros(p, np.int64), np.zeros(p, np.int64), np.zeros(p, np.int64),
        [Counter() for _ in range(p)], np.zeros((m, 4)), gram,
    )


def _merge_moments(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Chan / Pébay merge of (n, mean, M2, M3) rows, in the operation
    order of Spark's CentralMomentAgg."""
    na, ma, m2a, m3a = a.T
    nb, mb, m2b, m3b = b.T
    n = na + nb
    with np.errstate(invalid="ignore", divide="ignore", over="ignore"):
        delta = mb - ma
        dn = delta / n
        mean = ma + dn * nb
        m2 = m2a + m2b + delta * dn * na * nb
        m3 = m3a + m3b + dn * dn * delta * na * nb * (na - nb) + 3.0 * dn * (na * m2b - nb * m2a)
    merged = np.stack([n, mean, m2, m3], axis=1)
    return np.where((na == 0)[:, None], b, np.where((nb == 0)[:, None], a, merged))


def _shift(g: dict, origin: np.ndarray) -> dict:
    """Re-express a pairwise block's centred sums about ``origin``."""
    d = g["c"] - origin
    dc = d[:, None]
    sa, n = g["Sa"], g["N"]
    return {
        "c": origin,
        "N": n,
        "Sa": sa + dc * n,
        "Saa": g["Saa"] + 2.0 * dc * sa + dc * dc * n,
        "Sab": g["Sab"] + dc * sa.T + sa * d[None, :] + np.outer(d, d) * n,
        "K": g["K"],
    }


def _merge_gram(a: dict, b: dict) -> dict:
    # keep a's origin where a has seen the column, else take b's: an
    # origin far from a column's values would cost its precision
    origin = np.where(np.diag(a["N"]) > 0, a["c"], b["c"])
    a, b = _shift(a, origin), _shift(b, origin)
    return {k: origin if k == "c" else a[k] + b[k] for k in a}


def _merge(acc: _Partial, part: _Partial) -> _Partial:
    hist = []
    for i, (ha, hb) in enumerate(zip(acc.hist, part.hist)):
        if ha is None or hb is None:
            hist.append(None)
            continue
        ha.update(hb)
        hist.append(None if len(ha) + bool(acc.nan[i] + part.nan[i]) > LEVEL_CAP else ha)
    gram = acc.gram
    if gram is not None:
        gram = _merge_gram(gram, part.gram)
    return _Partial(
        acc.rows + part.rows, acc.nonnull + part.nonnull, acc.bad + part.bad,
        acc.nan + part.nan, hist, _merge_moments(acc.mom, part.mom), gram,
    )


def _batch_moments(x: np.ndarray, valid: np.ndarray) -> np.ndarray:
    """(n, mean, M2, M3) per column of one batch, two-pass about the
    first valid value: a constant column gets M2 == 0 exactly, as
    Spark's streaming update gives it."""
    n = valid.sum(axis=0).astype(np.float64)
    first = x[valid.argmax(axis=0), np.arange(x.shape[1])]
    with np.errstate(invalid="ignore", divide="ignore", over="ignore"):
        y = np.where(valid, x - first, 0.0)
        my = np.where(n > 0, y.sum(axis=0) / n, 0.0)
        d = np.where(valid, y - my, 0.0)
        d2 = d * d
        out = np.stack([n, first + my, d2.sum(axis=0), (d2 * d).sum(axis=0)], axis=1)
    return np.where((n > 0)[:, None], out, 0.0)


def _batch_gram(x: np.ndarray, valid: np.ndarray) -> dict:
    """The pairwise-complete block of one batch. Sums run over rows
    where both columns hold finite values, about the batch's own
    per-column centre; ``K[a, b]`` counts rows where a holds NaN or
    ±inf and b is not null (Spark's ``corr`` is NaN for that pair)."""
    fin = valid & np.isfinite(x)
    cnt = fin.sum(axis=0)
    first = x[fin.argmax(axis=0), np.arange(x.shape[1])]
    first = np.where(cnt > 0, first, 0.0)
    y = np.where(fin, x - first, 0.0)
    centre = first + np.where(cnt > 0, y.sum(axis=0) / np.maximum(cnt, 1), 0.0)
    y = np.where(fin, x - centre, 0.0)
    f = fin.astype(np.float64)
    return {
        "c": centre,
        "N": f.T @ f,
        "Sa": y.T @ f,
        "Saa": (y * y).T @ f,
        "Sab": y.T @ y,
        "K": (valid & ~fin).astype(np.float64).T @ valid.astype(np.float64),
    }


def _count_levels(arr: pa.Array, hist: Counter) -> int:
    """Add one batch's non-null levels of a column to ``hist``; returns
    its NaN count. Floats normalize -0.0 to 0.0 and count NaN apart."""
    arr = arr.drop_null()
    if pa.types.is_floating(arr.type):
        vals = arr.to_numpy(zero_copy_only=False) + 0.0  # -0.0 + 0.0 == 0.0
        isnan = np.isnan(vals)
        keys, counts = np.unique(vals[~isnan], return_counts=True)
        hist.update(dict(zip(keys.tolist(), counts.tolist())))
        return int(isnan.sum())
    vc = pc.value_counts(arr)
    hist.update(dict(zip(vc.field(0).to_pylist(), vc.field(1).to_pylist())))
    return 0


def _partial_fn(spec: list, moment_fields: list, gram_pos: list):
    """mapInArrow kernel: ONE row per partition, its pickled partial.
    ``spec[i]`` = (value field, bad-cast field or -1) of column i;
    ``moment_fields`` are the double fields of the moment columns and
    ``gram_pos`` the positions among them of the pairwise block."""

    def emit(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        acc = _empty(len(spec), len(moment_fields), len(gram_pos))
        for batch in batches:
            part = _empty(len(spec), len(moment_fields), len(gram_pos))
            part.rows = batch.num_rows
            for i, (vf, bf) in enumerate(spec):
                col = batch.column(vf)
                part.nonnull[i] = len(col) - col.null_count
                if bf >= 0:
                    part.bad[i] = pc.sum(batch.column(bf)).as_py() or 0
                if acc.hist[i] is None:
                    part.hist[i] = None  # overflowed: stop hashing this column
                    continue
                try:
                    part.nan[i] = _count_levels(col, part.hist[i])
                except pa.ArrowNotImplementedError:  # nested values have no hash kernel
                    part.hist[i] = None
            if moment_fields:
                cols = [batch.column(f) for f in moment_fields]
                x = np.stack(
                    [pc.fill_null(c, 0.0).to_numpy(zero_copy_only=False) for c in cols], axis=1
                )
                valid = np.stack(
                    [c.is_valid().to_numpy(zero_copy_only=False) for c in cols], axis=1
                )
                part.mom = _batch_moments(x, valid)
                if gram_pos:
                    part.gram = _batch_gram(x[:, gram_pos], valid[:, gram_pos])
            acc = _merge(acc, part)
        yield _state_batch(acc)

    return emit


def _merge_fn(p: int, m: int, g: int):
    """mapInArrow kernel over the single merge partition: every
    partial in, ONE merged partial out."""

    def merge(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        acc = _empty(p, m, g)
        for batch in batches:
            for blob in batch.column(0).to_pylist():
                acc = _merge(acc, pickle.loads(blob))
        yield _state_batch(acc)

    return merge


def _state_batch(part: _Partial) -> pa.RecordBatch:
    return pa.RecordBatch.from_arrays(
        [pa.array([pickle.dumps(part, protocol=pickle.HIGHEST_PROTOCOL)], pa.binary())],
        ["state"],
    )


# ---- the driver side ---------------------------------------------------------


def _as_collected(value, dtype: T.DataType):
    """An Arrow-side Python value as ``collect()`` returns it."""
    if isinstance(dtype, T.TimestampType):
        return T.TimestampType().fromInternal(T.TimestampType().toInternal(value))
    if isinstance(dtype, T.BinaryType):
        return bytearray(value)
    return value


@dataclass
class Profile:
    """Merged statistics of one frame state (see the module docstring).

    ``hist[c]`` lists (value, count) in Spark's ascending order, with
    values as Arrow hands them (``levels`` converts them to what
    ``collect`` returns), or is None when c has more than LEVEL_CAP
    levels. ``moments[c]`` is (n, mean, M2, M3); ``corr`` is the
    pairwise-complete Pearson matrix of ``corr_cols`` (NaN where Spark's
    ``corr`` is null or NaN)."""

    rows: int
    dtypes: dict
    nonnull: dict
    hist: dict
    bad: dict
    moments: dict
    corr_cols: tuple = ()
    corr: np.ndarray | None = field(default=None, repr=False)

    def covers(self, cols: Sequence[str], moment_cols: Sequence[str] = (), gram_cols: Sequence[str] = ()) -> bool:
        return (
            set(cols) <= self.nonnull.keys()
            and set(moment_cols) <= self.moments.keys()
            and set(gram_cols) <= set(self.corr_cols)
        )

    def restrict(self, cols: Sequence[str]) -> "Profile":
        keep = set(cols)
        pos = [i for i, c in enumerate(self.corr_cols) if c in keep]
        sub = lambda d: {c: v for c, v in d.items() if c in keep}  # noqa: E731
        return Profile(
            self.rows, sub(self.dtypes), sub(self.nonnull), sub(self.hist), sub(self.bad),
            sub(self.moments), tuple(self.corr_cols[i] for i in pos),
            None if self.corr is None else self.corr[np.ix_(pos, pos)],
        )

    def distinct(self, col: str) -> int:
        """Distinct non-null values; LEVEL_CAP + 1 stands for "more"."""
        h = self.hist[col]
        return LEVEL_CAP + 1 if h is None else len(h)

    def level_counts(self, cols: Sequence[str]) -> dict:
        """``hist`` of ``cols``; ValueError naming any column with more
        than LEVEL_CAP levels."""
        over = [c for c in cols if self.hist[c] is None]
        if over:
            raise ValueError(
                f"more than LEVEL_CAP = {LEVEL_CAP} levels in binary/categorical column(s): {over}"
            )
        return {c: self.hist[c] for c in cols}

    def levels(self, col: str) -> list:
        """Sorted distinct non-null values, as ``collect_set`` gives them."""
        return [_as_collected(v, self.dtypes[col]) for v, _ in self.hist[col]]

    def skewness(self, col: str) -> float | None:
        """Spark's ``skewness``: population g1, null for n == 0 or M2 == 0."""
        n, _, m2, m3 = self.moments[col]
        if n == 0 or m2 == 0.0:
            return None
        return float(np.sqrt(n) * m3 / np.sqrt(m2 * m2 * m2))


def _finish(part: _Partial, cols: list, dtypes: dict, moment_cols: list, gram_cols: list) -> Profile:
    hist = {}
    for i, c in enumerate(cols):
        h = part.hist[i]
        if h is None:
            hist[c] = None
            continue
        items = sorted(h.items())
        if part.nan[i]:  # NaN sorts last in Spark
            items.append((float("nan"), int(part.nan[i])))
        hist[c] = items
    corr = None
    if gram_cols:
        g = part.gram
        n, sa = g["N"], g["Sa"]
        with np.errstate(invalid="ignore", divide="ignore"):
            cab = g["Sab"] - sa * sa.T / n
            caa = g["Saa"] - sa * sa / n
            var = caa * caa.T
            corr = cab / np.sqrt(var)
        corr[(n < 2) | (g["K"] + g["K"].T > 0) | ~(var > 0)] = np.nan
    return Profile(
        rows=int(part.rows),
        dtypes=dtypes,
        nonnull={c: int(part.nonnull[i]) for i, c in enumerate(cols)},
        hist=hist,
        bad={c: int(part.bad[i]) for i, c in enumerate(cols) if not _is_numeric(dtypes[c])},
        moments={c: tuple(float(v) for v in part.mom[j]) for j, c in enumerate(moment_cols)},
        corr_cols=tuple(gram_cols),
        corr=corr,
    )


def compute_profile(
    df: DataFrame, cols: Sequence[str], moment_cols: Sequence[str] = (), gram_cols: Sequence[str] = ()
) -> Profile:
    """Profile ``cols`` of ``df`` in one pass (see the module docstring).

    ``moment_cols`` get (n, mean, M2, M3) of their values as doubles
    (``try_cast`` for non-numeric ones); ``gram_cols`` (a subset, at
    most a few hundred) get the pairwise-complete block."""
    cols = list(cols)
    dtypes = {f.name: f.dataType for f in df.schema.fields}
    gram_set = set(gram_cols)
    wanted = set(moment_cols) | gram_set
    moment_cols = [c for c in cols if c in wanted]
    exprs: list[str] = []

    def project(expr: str) -> int:
        exprs.append(f"{expr} AS _{len(exprs)}")
        return len(exprs) - 1

    spec, value_field = [], {}
    for c in cols:
        q = qname(c)
        vf = value_field[c] = project(q)
        bf = -1
        if not _is_numeric(dtypes[c]):
            bf = project(f"({q} IS NOT NULL AND try_cast(CAST({q} AS STRING) AS DOUBLE) IS NULL)")
        spec.append((vf, bf))
    moment_fields = [
        value_field[c] if isinstance(dtypes[c], T.DoubleType) else project(f"try_cast({qname(c)} AS DOUBLE)")
        for c in moment_cols
    ]
    gram_pos = [j for j, c in enumerate(moment_cols) if c in gram_set]
    if not exprs:  # no columns: the pass still counts rows
        project("TRUE")
    p, m, g = len(spec), len(moment_fields), len(gram_pos)
    state = (
        df.selectExpr(*exprs)
        .mapInArrow(_partial_fn(spec, moment_fields, gram_pos), "state binary")
        .repartition(1)
        .mapInArrow(_merge_fn(p, m, g), "state binary")
        .collect()
    )
    part = pickle.loads(state[0]["state"]) if state else _empty(p, m, g)
    return _finish(part, cols, dtypes, moment_cols, [moment_cols[j] for j in gram_pos])


def frame_profile(
    cf: ClariteFrame, moment_cols: Sequence[str] = (), gram_cols: Sequence[str] = ()
) -> Profile:
    """The profile of ``cf``'s current state, memoized on ``cf``.

    Counts and levels of every variable are always there; a reader names
    the moment and pairwise-block columns it needs on top. A missing
    profile, or one without them, is computed in one pass and then
    covers every variable, with moments for the numeric and continuous
    ones and the pairwise block for ``gram_cols``, or else for the
    continuous ones when there are at most GRAM_LIMIT of them — so the
    next reader of the same state finds what it needs."""
    prof = cf.profile
    if prof is not None and prof.covers(cf.variables, moment_cols, gram_cols):
        return prof
    cont = [c for c in cf.variables if cf.catalog.get(c) == CONTINUOUS]
    if not gram_cols and len(cont) <= GRAM_LIMIT:
        gram_cols = cont
    wanted = {f.name for f in cf.df.schema.fields if _is_numeric(f.dataType)}
    wanted |= set(cont) | set(moment_cols)
    moments = [c for c in cf.variables if c in wanted]
    cf.profile = compute_profile(cf.df, cf.variables, moments, gram_cols)
    return cf.profile
