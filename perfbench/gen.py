"""Seeded synthetic inputs with planted truth, one generator per workload.

Each generator draws every value from ``numpy.random.default_rng(seed)``,
so the same seed gives byte-identical inputs. It writes the data as
parquet (one file per core, so Spark reads one partition per core) and
returns a ``Truth`` describing what the program must find: each column's
CLARITE type, the columns QC must drop, and the signal variables with
their planted effects. The program under test sees only the files.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# QC thresholds shared by the qc_wide pass and its planted truth
MIN_N = 200
MIN_CAT_N = 200


@dataclass
class Truth:
    types: dict[str, str]
    dropped: dict[str, list[str]] = field(default_factory=dict)
    signals: dict[str, float] = field(default_factory=dict)
    outcome: str | None = None
    covariates: list[str] = field(default_factory=list)
    complete_rows: int | None = None  # rows left after rowfilter_incomplete_obs
    design: dict | None = None  # survey design column names


@dataclass
class Shape:
    rows: int
    variables: int


def _write(path: str, columns: dict[str, np.ndarray], files: int) -> None:
    """Write ``columns`` (masked arrays carry nulls) as ``files`` parquet parts."""
    os.makedirs(path)
    arrays = {}
    for name, col in columns.items():
        if np.ma.isMaskedArray(col):
            arrays[name] = pa.array(col.data, mask=np.ma.getmaskarray(col))
        else:
            arrays[name] = pa.array(col)
    table = pa.table(arrays)
    bounds = np.linspace(0, table.num_rows, files + 1).astype(int)
    for i in range(files):
        part = table.slice(bounds[i], bounds[i + 1] - bounds[i])
        pq.write_table(part, os.path.join(path, f"part-{i:04d}.parquet"))


def _sidecar(path: str, types: dict[str, str], categories: dict[str, list]) -> None:
    """The program's ``.dtypes`` JSON sidecar, written beside the data."""
    with open(path.rstrip("/") + ".dtypes", "w") as fh:
        json.dump({"types": types, "categories": categories, "alleles": {}}, fh)


def _mask(rng: np.random.Generator, n: int, rate: float) -> np.ndarray:
    return rng.random(n) < rate


def _exact_mask(rng: np.random.Generator, n: int, keep: int) -> np.ndarray:
    """Mask hiding all but exactly ``keep`` rows."""
    m = np.ones(n, dtype=bool)
    m[rng.choice(n, size=keep, replace=False)] = False
    return m


def _rare_level(rng: np.random.Generator, n: int, levels: int, rare: int) -> np.ndarray:
    """Integer levels 0..levels-1 where the last level occurs exactly ``rare`` times."""
    x = rng.integers(0, levels - 1, n)
    x[rng.choice(n, size=rare, replace=False)] = levels - 1
    return x


# Share of the qc_wide columns in each role (at least one column each);
# the remaining ~35% are continuous.
QC_ROLE_SHARES = (
    ("all_na", 0.05),
    ("constant", 0.05),
    ("heavy_na", 0.075),
    ("rare_binary", 0.05),
    ("rare_categorical", 0.025),
    ("binary", 0.15),
    ("categorical", 0.15),
    ("unknown_int", 0.05),
    ("string_categorical", 0.025),
    ("string_unknown", 0.025),
)


def qc_wide(path: str, seed: int, shape: Shape, files: int) -> Truth:
    """A wide mixed-type table with planted QC failures.

    Column roles (shuffled into random positions under neutral names):
    all-NA and constant columns, heavy-NA continuous columns with fewer
    than ``MIN_N`` values, binary/categorical columns with a level rarer
    than ``MIN_CAT_N``, plain binary/categorical/continuous columns,
    integer and string columns whose distinct counts make them
    ``unknown``, and one string categorical. Surviving columns are
    complete except for sparse NAs in a few continuous ones, so
    ``rowfilter_incomplete_obs`` keeps most rows.
    """
    rng = np.random.default_rng(seed)
    n = shape.rows
    roles = [r for r, share in QC_ROLE_SHARES for _ in range(max(1, round(share * shape.variables)))]
    roles += ["continuous"] * (shape.variables - len(roles))
    roles = [roles[i] for i in rng.permutation(len(roles))]
    names = [f"v{i:03d}" for i in range(len(roles))]

    cols: dict[str, np.ndarray] = {"ID": np.arange(n, dtype=np.int64)}
    types: dict[str, str] = {}
    dropped = {"all_na": [], "min_n": [], "min_cat_n": []}
    base = rng.normal(size=n)  # shared factor: continuous columns correlate through it
    cont_seen = 0
    for name, role in zip(names, roles):
        if role == "all_na":
            cols[name] = np.ma.masked_all(n, dtype=np.float64)
            dropped["all_na"].append(name)
            continue
        if role == "constant":
            cols[name] = np.ones(n)
            types[name] = "constant"
        elif role == "heavy_na":
            cols[name] = np.ma.array(rng.normal(size=n), mask=_exact_mask(rng, n, MIN_N // 2))
            types[name] = "continuous"
            dropped["min_n"].append(name)
        elif role == "rare_binary":
            cols[name] = _rare_level(rng, n, 2, MIN_CAT_N // 4).astype(np.int32)
            types[name] = "binary"
            dropped["min_cat_n"].append(name)
        elif role == "rare_categorical":
            cols[name] = _rare_level(rng, n, 4, MIN_CAT_N // 4).astype(np.int32)
            types[name] = "categorical"
            dropped["min_cat_n"].append(name)
        elif role == "binary":
            cols[name] = (rng.random(n) < rng.uniform(0.2, 0.5)).astype(np.int32)
            types[name] = "binary"
        elif role == "categorical":
            cols[name] = rng.integers(0, rng.integers(3, 7), n).astype(np.int32)
            types[name] = "categorical"
        elif role == "unknown_int":
            cols[name] = rng.integers(0, 10, n).astype(np.int32)
            types[name] = "unknown"
        elif role == "string_categorical":
            cols[name] = np.array(["lo", "mid", "hi"])[rng.integers(0, 3, n)]
            types[name] = "categorical"
        elif role == "string_unknown":
            cols[name] = np.char.add("id-", rng.integers(0, 10**6, n).astype(str))
            types[name] = "unknown"
        else:
            # every other continuous column tracks the shared factor,
            # so correlations() has pairs above its threshold
            x = rng.normal(size=n) + (3.0 * base if cont_seen % 2 == 0 else 0.0)
            if rng.random() < 0.5:
                x = np.exp(x / 2.0)  # skewed
            cols[name] = np.ma.array(x, mask=_mask(rng, n, 0.001) if cont_seen < 4 else False)
            types[name] = "continuous"
            cont_seen += 1
    _write(path, cols, files)

    # a level can fall below MIN_CAT_N by chance at small shapes: count
    for name in names:
        if types.get(name) in ("binary", "categorical") and name not in dropped["min_cat_n"]:
            if np.unique(cols[name], return_counts=True)[1].min() < MIN_CAT_N:
                dropped["min_cat_n"].append(name)
    gone = {c for v in dropped.values() for c in v}
    complete = np.ones(n, dtype=bool)
    for name in names:
        if name not in gone and np.ma.isMaskedArray(cols[name]):
            complete &= ~np.ma.getmaskarray(cols[name])
    return Truth(
        types=types,
        dropped={k: sorted(v) for k, v in dropped.items()},
        complete_rows=int(complete.sum()),
    )


# Planted effect of the three continuous signal variables (the binary
# signal gets twice this). Large enough to stay Bonferroni-significant
# under the survey design, whose tests have only 15 degrees of freedom.
SIGNAL_BETA = 0.4
COVARIATES = ["age", "sex", "race"]


def _ewas_table(rng: np.random.Generator, shape: Shape):
    """ID, age/sex/race covariates and ``shape.variables - 4`` regression
    variables (60% continuous, 20% binary, 20% categorical, per-variable
    missingness); three continuous and one binary variable carry a
    planted effect. Returns the columns, types, category levels, signals
    and the planted linear predictor (the outcome is the fourth column
    the caller adds)."""
    n = shape.rows
    p = shape.variables - 4
    age = rng.normal(50.0, 12.0, n)
    sex = rng.integers(0, 2, n).astype(np.int32)
    race = rng.integers(1, 6, n).astype(np.int32)
    cols: dict[str, np.ndarray] = {"ID": np.arange(n, dtype=np.int64), "age": age, "sex": sex, "race": race}
    types = {"age": "continuous", "sex": "binary", "race": "categorical"}
    cats: dict[str, list] = {"sex": [0, 1], "race": [1, 2, 3, 4, 5]}
    eta = 0.02 * (age - 50.0) + 0.25 * sex + 0.1 * (race - 3)
    n_cont, n_bin = round(0.6 * p), round(0.2 * p)
    kinds = ["continuous"] * n_cont + ["binary"] * n_bin + ["categorical"] * (p - n_cont - n_bin)
    kinds = [kinds[i] for i in rng.permutation(p)]
    signals: dict[str, float] = {}
    for i, kind in enumerate(kinds):
        name = f"x{i:04d}"
        miss = _mask(rng, n, rng.uniform(0.0, 0.15))
        beta = 0.0
        if kind == "continuous":
            x = rng.normal(size=n)
            if sum(types[s] == "continuous" for s in signals) < 3:
                beta = SIGNAL_BETA
        elif kind == "binary":
            x = (rng.random(n) < rng.uniform(0.2, 0.5)).astype(np.int32)
            cats[name] = [0, 1]
            if not any(types[s] == "binary" for s in signals):
                beta = 2.0 * SIGNAL_BETA
        else:
            k = int(rng.integers(3, 6))
            x = rng.integers(0, k, n).astype(np.int32)
            cats[name] = list(range(k))
        if beta:
            signals[name] = beta
            eta = eta + beta * np.where(miss, 0.0, x)
        cols[name] = np.ma.array(x, mask=miss)
        types[name] = kind
    return cols, types, cats, signals, eta


def ewas_linear(path: str, seed: int, shape: Shape, files: int) -> Truth:
    """Continuous outcome ``y``, no survey design."""
    rng = np.random.default_rng(seed)
    cols, types, cats, signals, eta = _ewas_table(rng, shape)
    cols["y"] = eta + rng.normal(size=shape.rows)
    types["y"] = "continuous"
    _write(path, cols, files)
    _sidecar(path, types, cats)
    return Truth(types=types, signals=signals, outcome="y", covariates=COVARIATES)


def ewas_logistic(path: str, seed: int, shape: Shape, files: int) -> Truth:
    """Binary outcome ``case`` drawn from a logistic model. The continuous
    ``age`` covariate keeps every fit off the engine's contingency-cell
    path, so all of them run in the grouped Python kernel."""
    rng = np.random.default_rng(seed)
    cols, types, cats, signals, eta = _ewas_table(rng, shape)
    cols["case"] = (rng.random(shape.rows) < 1.0 / (1.0 + np.exp(0.5 - eta))).astype(np.int32)
    types["case"] = "binary"
    cats["case"] = [0, 1]
    _write(path, cols, files)
    _sidecar(path, types, cats)
    return Truth(types=types, signals=signals, outcome="case", covariates=COVARIATES)


SURVEY_STRATA = 15
SURVEY_PSUS = 2


def ewas_survey(path: str, seed: int, shape: Shape, files: int) -> Truth:
    """Continuous outcome ``y``. The stratified, clustered, weighted
    design (15 strata x 2 PSUs, one weight) lives in a separate
    ``<path>_design`` table, as the program requires."""
    rng = np.random.default_rng(seed)
    n = shape.rows
    cols, types, cats, signals, eta = _ewas_table(rng, shape)
    cols["y"] = eta + rng.normal(size=n)
    types["y"] = "continuous"
    _write(path, cols, files)
    _sidecar(path, types, cats)
    design = {
        "ID": cols["ID"],
        "strat": rng.integers(0, SURVEY_STRATA, n).astype(np.int32),
        "psu": rng.integers(0, SURVEY_PSUS, n).astype(np.int32),
        "wt": rng.lognormal(0.0, 0.5, n),
    }
    _write(path + "_design", design, files)
    return Truth(
        types=types,
        signals=signals,
        outcome="y",
        covariates=COVARIATES,
        design={"strata": "strat", "cluster": "psu", "weights": "wt"},
    )


def read_arrays(path: str, columns: list[str]) -> dict[str, np.ndarray]:
    """Read generated columns back as float arrays with NaN for nulls
    (for the numpy reference fits, outside the timed region)."""
    table = pq.read_table(path, columns=columns)
    return {c: table.column(c).to_numpy(zero_copy_only=False).astype(float) for c in columns}
