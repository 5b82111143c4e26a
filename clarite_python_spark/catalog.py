"""The CLARITE semantic type system, Spark-side.

The reference's central schema concept is a per-column *semantic* variable
type derived by ``_get_dtypes`` (reference ``clarite/internal/utilities.py:
93-141``): ``constant | binary | categorical | continuous | genotypes |
unknown``. pandas encodes it physically (``category`` dtype, numeric dtype);
Spark has no categorical dtype, so we carry the taxonomy *beside* the data
in a ``VariableCatalog`` — a small driver-side dict that every operator
threads through (and can persist as a JSON sidecar, mirroring the
reference's ``name.dtypes`` file, ``clarite/cli/custom_types.py:66-88``).

The catalog is deliberately tiny (one entry per column, ≈10^3 entries) so
it broadcasts for free into grouped kernels; the *data* stays native
StringType/DoubleType and fully Catalyst-optimizable.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field
from typing import Iterable, Sequence

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

# CLARITE variable-type taxonomy (reference utilities.py:93-141)
CONSTANT = "constant"
BINARY = "binary"
CATEGORICAL = "categorical"
CONTINUOUS = "continuous"
GENOTYPES = "genotypes"
UNKNOWN = "unknown"

ALL_TYPES = (CONSTANT, BINARY, CATEGORICAL, CONTINUOUS, GENOTYPES, UNKNOWN)

ID_COL = "ID"

_NUMERIC_SPARK_TYPES = (
    T.ByteType,
    T.ShortType,
    T.IntegerType,
    T.LongType,
    T.FloatType,
    T.DoubleType,
    T.DecimalType,
)


def _is_numeric(dtype: T.DataType) -> bool:
    return isinstance(dtype, _NUMERIC_SPARK_TYPES)


def qname(name: str) -> str:
    """SQL identifier for a *literal* column name — backtick-quoted with
    inner backticks doubled, so variable names containing dots (common in
    R-origin data, e.g. ``sch.wide`` in the reference's api dataset) are
    not parsed as struct access. The string form of :func:`qcol`, for
    wide projections rendered as ONE ``selectExpr`` parse: building them
    from ``Column`` objects costs several py4j round trips per column."""
    return "`" + name.replace("`", "``") + "`"


def qlit(value) -> str:
    """SQL string literal for ``str(value)``: backslashes and single
    quotes escaped (Spark's default, non-legacy string-literal parser)."""
    return "'" + str(value).replace("\\", "\\\\").replace("'", "\\'") + "'"


def qcol(name: str) -> F.Column:
    """Column reference by *literal* name (see :func:`qname`)."""
    return F.col(qname(name))


def select_positional(df: DataFrame, names: Sequence[str]) -> DataFrame:
    """``names`` under the positional aliases ``_0, _1, …``, in one
    ``selectExpr``. ``mapInPandas`` re-resolves its input columns by name,
    which parses dots and backticks; its batches get the real names back
    with ``pdf.set_axis(names, axis=1)``."""
    return df.selectExpr(*[f"{qname(c)} AS _{i}" for i, c in enumerate(names)])


def sort_result(df: DataFrame, *order) -> DataFrame:
    """Sort a small result frame (one row per tested variable or pair,
    at most ~10^6 rows) on ONE partition.

    A global ``orderBy`` plans a range-partitioned exchange whose
    partitioner first runs a sampling job over the sort's input — for a
    result frame that input is the whole fan-out (block layout + Python
    kernel), which would then run twice. ``repartition(1)`` plans a
    single-partition exchange with no sampling job, and the sort stays a
    per-partition sort. (Not ``coalesce(1)``: that would push one-task
    parallelism down into the kernel's stage.)"""
    return df.repartition(1).sortWithinPartitions(*order)


def local_frame(rows: Sequence, schema: "str | T.StructType") -> DataFrame:
    """Driver-built result rows (tuples in field order, or dicts by
    field name) as a ``LocalRelation`` with exactly ``schema``'s types.

    ``createDataFrame`` over a Python list plans an RDD scan, so every
    collect of it runs a Python-worker job (~0.4 s); over a
    ``pyarrow.Table`` it builds a local relation, which collects, and
    folds projections such as ``CAST``, without any job. NaN and null
    both survive. Sort the rows before building the frame: a sort or
    ``sort_result`` over a local relation would plan an exchange."""
    spark = SparkSession.active()
    if isinstance(schema, str):
        schema = T.StructType.fromDDL(schema)
    names = schema.fieldNames()
    rows = [[r.get(n) for n in names] if isinstance(r, dict) else r for r in rows]
    arrow = to_arrow_schema(schema)
    columns = list(zip(*rows)) if rows else [[] for _ in names]
    table = pa.Table.from_arrays(
        [pa.array(list(c), type=t) for c, t in zip(columns, arrow.types)], schema=arrow
    )
    return spark.createDataFrame(table, schema)


@dataclass
class VariableCatalog:
    """Per-column CLARITE type + (optionally cached) category levels.

    ``categories[col]`` holds the *sorted* category levels for
    binary/categorical columns. Sorted-order matters downstream: it fixes
    the reference level (first category) and therefore beta signs and
    ``[T.x]`` naming in regression results, mirroring pandas' sorted
    ``category`` levels (reference ``glm_regression.py:129-150``).
    """

    types: dict[str, str] = field(default_factory=dict)
    categories: dict[str, list] = field(default_factory=dict)
    # genotype columns: {col: [ref_allele, alt_allele]}
    alleles: dict[str, list] = field(default_factory=dict)

    def copy(self) -> "VariableCatalog":
        return VariableCatalog(
            dict(self.types),
            {k: list(v) for k, v in self.categories.items()},
            {k: list(v) for k, v in self.alleles.items()},
        )

    def set(self, col: str, vtype: str, categories: list | None = None) -> None:
        if vtype not in ALL_TYPES:
            raise ValueError(f"unknown CLARITE type {vtype!r}")
        self.types[col] = vtype
        if categories is not None:
            self.categories[col] = sorted(categories)
        elif vtype not in (BINARY, CATEGORICAL, CONSTANT):
            self.categories.pop(col, None)

    def drop(self, cols: Iterable[str]) -> None:
        for c in cols:
            self.types.pop(c, None)
            self.categories.pop(c, None)

    def of_type(self, *vtypes: str) -> list[str]:
        return [c for c, t in self.types.items() if t in vtypes]

    def get(self, col: str) -> str | None:
        return self.types.get(col)

    # ---- persistence (mirrors the reference .dtypes JSON sidecar) ----

    def to_json(self) -> str:
        return json.dumps(
            {"types": self.types, "categories": self.categories, "alleles": self.alleles},
            default=str,
        )

    @classmethod
    def from_json(cls, s: str) -> "VariableCatalog":
        d = json.loads(s)
        return cls(
            dict(d.get("types", {})),
            {k: list(v) for k, v in d.get("categories", {}).items()},
            {k: list(v) for k, v in d.get("alleles", {}).items()},
        )

    @classmethod
    def infer_physical(cls, df: DataFrame) -> "VariableCatalog":
        """Weak inference from the physical Spark schema only (no scan):
        numeric -> continuous, everything else -> unknown. ``categorize``
        (modify.py) performs the real distinct-count-based inference."""
        cat = cls()
        for f_ in df.schema.fields:
            if f_.name == ID_COL:
                continue
            cat.types[f_.name] = CONTINUOUS if _is_numeric(f_.dataType) else UNKNOWN
        return cat


@dataclass
class ClariteFrame:
    """A lazy Spark DataFrame + its VariableCatalog.

    Invariant: ``df`` has a unique-key ``ID`` column (the reference's
    mandatory row-label index, ``clarite/modules/load.py:49``); every other
    column is a variable with an entry in ``catalog.types``.

    Operators take and return ``ClariteFrame``s; the wrapped plan stays
    lazy, so chained QC operators fuse into one Catalyst plan (vs the
    reference's eager copy-per-operator pandas pipeline).
    """

    df: DataFrame
    catalog: VariableCatalog = field(default_factory=VariableCatalog)
    # column statistics of this frame state (functions/profile.py);
    # with_df drops it, select_variables restricts it
    profile: object = field(default=None, repr=False, compare=False)

    def __post_init__(self) -> None:
        if ID_COL not in self.df.columns:
            raise ValueError(f"ClariteFrame requires an {ID_COL!r} column")
        if not self.catalog.types:
            self.catalog = VariableCatalog.infer_physical(self.df)

    @property
    def variables(self) -> list[str]:
        return [c for c in self.df.columns if c != ID_COL]

    def with_df(self, df: DataFrame) -> "ClariteFrame":
        """New frame, same catalog restricted to surviving columns."""
        cat = self.catalog.copy()
        gone = set(cat.types) - set(df.columns)
        cat.drop(gone)
        for c in df.columns:
            if c != ID_COL and c not in cat.types:
                cat.types[c] = CONTINUOUS if _is_numeric(df.schema[c].dataType) else UNKNOWN
        return ClariteFrame(df, cat)

    def select_variables(self, cols: Sequence[str]) -> "ClariteFrame":
        out = self.with_df(
            self.df.selectExpr(qname(ID_COL), *[f"{qname(c)} AS {qname(c)}" for c in cols])
        )
        if self.profile is not None:
            out.profile = self.profile.restrict(cols)
        return out

    def category_levels(self, col: str) -> list:
        """Sorted distinct non-null levels; cached in the catalog.

        One narrow scan when uncached (column-pruned by Catalyst)."""
        if col not in self.catalog.categories:
            rows = self.df.select(qcol(col).alias(col)).where(qcol(col).isNotNull()).distinct().collect()
            self.catalog.categories[col] = sorted(r[0] for r in rows)
        return self.catalog.categories[col]

    def prefetch_category_levels(self, cols: Sequence[str]) -> None:
        """Warm the level cache for many columns in ONE scan
        (``collect_set`` per column in a single agg) instead of one
        ``distinct`` job each — the level sets are small by construction
        (categorize's ``cat_max``), the scan is the cost that matters."""
        todo = [c for c in dict.fromkeys(cols) if c not in self.catalog.categories]
        if not todo:
            return
        row = self.df.selectExpr(
            *[f"collect_set({qname(c)}) AS {qname('l::' + c)}" for c in todo]
        ).collect()[0]
        for c in todo:
            self.catalog.categories[c] = sorted(row[f"l::{c}"])


def validate_skip_only(
    columns: Sequence[str], skip: Sequence[str] | str | None = None, only: Sequence[str] | str | None = None
) -> list[str]:
    """Resolve a skip/only column selector against the variable list.

    Mirrors ``_validate_skip_only`` (reference utilities.py:50-90): at most
    one of skip/only; unknown names raise ValueError.
    """
    if skip is not None and only is not None:
        raise ValueError("It isn't possible to specify 'skip' and 'only' at the same time")
    if isinstance(skip, str):
        skip = [skip]
    if isinstance(only, str):
        only = [only]
    colset = set(columns)
    for sel, name in ((skip, "skip"), (only, "only")):
        if sel is not None:
            missing = [c for c in sel if c not in colset]
            if missing:
                raise ValueError(f"{name} columns not found in data: {missing}")
    if only is not None:
        return [c for c in columns if c in set(only)]
    if skip is not None:
        return [c for c in columns if c not in set(skip)]
    return list(columns)
