"""Output checks, run outside the timed region.

The QC check compares the pass's catalog and drop lists with the
generator's planted truth and reads the saved table back. The EWAS check
compares a few sampled variables against reference fits written here in
numpy (statsmodels is not a dependency): ``lstsq`` for the Gaussian
β/SE/p, a small IRLS for the logistic β/SE/p, weighted least squares for
the survey β.
"""

from __future__ import annotations

import math
from dataclasses import dataclass

import numpy as np

from perfbench.gen import Truth

RTOL = 1e-6
BONFERRONI_ALPHA = 0.05


@dataclass
class Reference:
    """Expected β (and SE, p where checked) of one sampled variable."""

    beta: float
    se: float | None = None
    p: float | None = None


# ---- EWAS ------------------------------------------------------------------


def check_ewas(rows: list[dict], truth: Truth, refs: dict[str, Reference]) -> list[str]:
    """Problems with one association-study result (empty list = valid):
    one row per tested variable, every planted signal Bonferroni-
    significant, and the sampled variables within ``RTOL`` of ``refs``."""
    problems = []
    tested = [v for v in truth.types if v not in (truth.outcome, *truth.covariates)]
    by_var = {r["Variable"]: r for r in rows}
    if sorted(by_var) != sorted(tested) or len(rows) != len(tested):
        problems.append(f"{len(rows)} rows for {len(by_var)} variables, expected one per {len(tested)}")
    for v in truth.signals:
        bonf = by_var.get(v, {}).get("pvalue_bonferroni")
        if bonf is None or not bonf < BONFERRONI_ALPHA:
            problems.append(f"planted signal {v} not Bonferroni-significant: {bonf}")
    for v, ref in refs.items():
        got = by_var.get(v, {})
        for key, want in (("Beta", ref.beta), ("SE", ref.se), ("Beta_pvalue", ref.p)):
            have = got.get(key)
            if want is not None and (have is None or abs(have - want) > RTOL * max(abs(have), abs(want))):
                problems.append(f"{v} {key}={have} but reference {want}")
    return problems


def reference_fits(
    arrays: dict[str, np.ndarray], truth: Truth, seed: int, weights: np.ndarray | None = None
) -> dict[str, Reference]:
    """Reference fits of one signal and three non-signal binary or
    continuous variables (chosen from ``seed``), each on its complete
    cases with the covariates treatment-coded on sorted levels. With
    survey ``weights``: the weighted-least-squares β. Without: OLS (for
    a continuous outcome) or logistic IRLS (binary) β, SE and, for the
    non-signal variables, p. (At a signal's |z| ~ 20, the engine's IRLS
    stopping rule, a 1e-8 relative deviance change, moves p by ~1e-6, so
    signals are checked by their significance instead.)"""
    rng = np.random.default_rng(seed + 1)
    plain = sorted(
        v for v, t in truth.types.items()
        if t in ("continuous", "binary") and v not in truth.signals
        and v not in (truth.outcome, *truth.covariates)
    )
    signal = sorted(truth.signals)[0]
    out = {}
    for v in [signal, *rng.choice(plain, size=3, replace=False)]:
        cols = [*truth.covariates, v]
        keep = ~np.isnan(arrays[truth.outcome])
        for c in cols:
            keep &= ~np.isnan(arrays[c])
        parts = [np.ones(keep.sum())]
        for c in cols:
            x = arrays[c][keep]
            if truth.types[c] == "continuous":
                parts.append(x)
            else:
                parts.extend((x == lvl).astype(float) for lvl in np.unique(x)[1:])
        X, y = np.column_stack(parts), arrays[truth.outcome][keep]
        if weights is not None:
            sw = np.sqrt(weights[keep])
            out[str(v)] = Reference(float(np.linalg.lstsq(X * sw[:, None], y * sw, rcond=None)[0][-1]))
            continue
        if truth.types[truth.outcome] == "binary":
            beta, se = _logistic(X, y)
            p = math.erfc(abs(beta / se) / math.sqrt(2.0))
        else:
            coef = np.linalg.lstsq(X, y, rcond=None)[0]
            resid = y - X @ coef
            dof = X.shape[0] - X.shape[1]
            beta = float(coef[-1])
            se = math.sqrt(resid @ resid / dof * np.linalg.inv(X.T @ X)[-1, -1])
            p = 2.0 * t_sf(abs(beta / se), dof)
        out[str(v)] = Reference(beta, se, p if v != signal else None)
    return out


def _logistic(X: np.ndarray, y: np.ndarray) -> tuple[float, float]:
    """Newton-Raphson (IRLS) to full convergence; β and SE of the last column."""
    beta = np.zeros(X.shape[1])
    for _ in range(100):
        mu = 1.0 / (1.0 + np.exp(-(X @ beta)))
        step = np.linalg.solve(X.T @ (X * (mu * (1.0 - mu))[:, None]), X.T @ (y - mu))
        beta += step
        if np.max(np.abs(step)) < 1e-13 * (1.0 + np.max(np.abs(beta))):
            break
    mu = 1.0 / (1.0 + np.exp(-(X @ beta)))
    cov = np.linalg.inv(X.T @ (X * (mu * (1.0 - mu))[:, None]))
    return float(beta[-1]), math.sqrt(cov[-1, -1])


def t_sf(t: float, df: float) -> float:
    """Student-t upper tail P(T > t), t >= 0, as the regularized
    incomplete beta I_x(df/2, 1/2) / 2 with x = df / (df + t^2)."""
    if t == 0.0:
        return 0.5
    a, b, x = df / 2.0, 0.5, df / (df + t * t)
    front = math.exp(math.lgamma(a + b) - math.lgamma(a) - math.lgamma(b) + a * math.log(x) + b * math.log1p(-x))
    if x < (a + 1.0) / (a + b + 2.0):
        return 0.5 * front * _beta_cf(a, b, x) / a
    return 0.5 * (1.0 - front * _beta_cf(b, a, 1.0 - x) / b)


def _beta_cf(a: float, b: float, x: float) -> float:
    """Continued fraction of the incomplete beta, by modified Lentz."""
    tiny = 1e-300
    f, c, d = 1.0, 1.0, 0.0
    for i in range(2000):
        m = i // 2
        if i == 0:
            num = 1.0
        elif i % 2 == 0:
            num = m * (b - m) * x / ((a + 2 * m - 1) * (a + 2 * m))
        else:
            num = -(a + m) * (a + b + m) * x / ((a + 2 * m) * (a + 2 * m + 1))
        d = 1.0 + num * d
        d = 1.0 / (d if abs(d) > tiny else tiny)
        c = 1.0 + num / c
        c = c if abs(c) > tiny else tiny
        f *= c * d
        if abs(c * d - 1.0) < 1e-15:
            break
    return f - 1.0


# ---- QC --------------------------------------------------------------------


def check_qc(out: dict, truth: Truth, reread) -> list[str]:
    """Problems with one QC pass: catalog type counts and drop sets equal
    the planted truth, and the saved table round-trips. ``reread`` is the
    frame ``io.from_parquet`` returned for the saved path."""
    problems = []
    want_counts = {t: 0 for t in ("constant", "binary", "categorical", "continuous", "unknown")}
    for t in truth.types.values():
        want_counts[t] += 1
    if out["type_counts"] != want_counts:
        problems.append(f"type counts {out['type_counts']} != planted {want_counts}")
    for stage, want in truth.dropped.items():
        if sorted(out["dropped"][stage]) != want:
            problems.append(f"{stage} dropped {sorted(out['dropped'][stage])} != planted {want}")
    if reread.catalog.types != out["catalog_types"] or reread.df.columns != out["columns"]:
        problems.append("saved table or sidecar did not round-trip")
    n = reread.df.count()
    if n != truth.complete_rows:
        problems.append(f"saved {n} rows, expected {truth.complete_rows} complete observations")
    return problems
