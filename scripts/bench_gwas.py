"""GWAS-canonical-scale benchmark: the reference's "largeish GWAS" shape
— 10,000 obs x 1,000 SNPs, case/control logistic (reference
tests/analyze/conftest.py:93-119, test_gwas.py:34-57; marked slow and
commented out there) — through both binomial execution paths:

- contingency sufficient-stats (default): one unpivot->count aggregation
  (map-side combine => shuffle carries #SNPs x ~6 cells), freq-weighted
  IRLS driver-side with iterates identical to the row-level kernel;
- grouped kernel (``use_sufficient_stats=False``): each row ships once
  per block of <=64 SNPs to ``groupBy(block).applyInPandas`` Python
  workers.

Each path runs once cold, then twice warm (the min is reported). The
script asserts that both paths give the same Beta to 1e-8.

Usage: python scripts/bench_gwas.py [n_rows] [n_snps]
Prints one JSON line with wall seconds for both paths.
"""

from __future__ import annotations

import json
import sys
import time

import numpy as np
import pandas as pd

sys.path.insert(0, ".")


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 10_000
    p = int(sys.argv[2]) if len(sys.argv) > 2 else 1_000

    from clarite_python_spark.catalog import ClariteFrame, VariableCatalog
    from clarite_python_spark.operators import analyze
    from clarite_python_spark.session import get_spark

    spark = get_spark("bench-gwas")

    from clarite_python_spark.operators import modify

    rng = np.random.RandomState(42)
    maf = rng.uniform(0.1, 0.4, p)
    counts = rng.binomial(2, maf, size=(n, p))
    eta = -0.5 + 0.8 * counts[:, 0] + 0.6 * counts[:, 1]
    y = (rng.uniform(size=n) < 1.0 / (1.0 + np.exp(-eta))).astype(int)
    gt = np.where(counts == 0, "A/A", np.where(counts == 1, "A/T", "T/T"))
    data = {"ID": np.arange(n), "Outcome": np.where(y == 1, "Case", "Control")}
    names = [f"SNP{i + 1}" for i in range(p)]
    for i, nm in enumerate(names):
        data[nm] = gt[:, i]
    pdf = pd.DataFrame(data)
    # materialize to parquet so the measured runs read a columnar source
    # (the production shape) instead of re-serializing a 78 MB
    # single-task local relation on every action. NOTE: no .cache() —
    # columnar caching allocates per-column builder buffers, and 1000+
    # columns x 32 partitions is GBs of heap.
    import tempfile

    src = tempfile.mkdtemp(prefix="bench_gwas_") + "/genotypes"
    spark.createDataFrame(pdf).repartition(32).write.mode("overwrite").parquet(src)
    cf = ClariteFrame(spark.read.parquet(src))
    cf = modify.make_binary(cf, only=["Outcome"])
    cf = modify.make_genotypes(cf, {nm: ("A", "T") for nm in names})

    def run(use_sufficient_stats: bool) -> tuple[float, pd.DataFrame]:
        t0 = time.perf_counter()
        res = analyze.association_study(
            cf,
            outcomes="Outcome",
            min_n=50,
            encoding="additive",
            use_sufficient_stats=use_sufficient_stats,
        ).toPandas()
        return time.perf_counter() - t0, res.set_index("Variable").sort_index()

    def timed(use_sufficient_stats: bool) -> tuple[float, float, pd.DataFrame]:
        # the cold run includes codegen/Arrow/Python-worker warm-up;
        # shared-machine single-shot variance is +-50%: min of two warm
        cold, res = run(use_sufficient_stats)
        warm = min(run(use_sufficient_stats)[0], run(use_sufficient_stats)[0])
        return cold, warm, res

    cold, warm, suff = timed(True)
    tail_cold, tail_warm, tail = timed(False)
    assert list(suff.index) == list(tail.index)
    beta_diff = float(np.nanmax(np.abs(suff["Beta"] - tail["Beta"])))
    se_diff = float(np.nanmax(np.abs(suff["SE"] - tail["SE"])))
    assert beta_diff <= 1e-8, f"paths disagree: max |dBeta| = {beta_diff:.3g}"

    print(
        json.dumps(
            {
                "metric": "gwas_canonical_wall",
                "value": round(warm, 3),
                "unit": "sec",
                "cold_sec": round(cold, 3),
                "grouped_tail_sec": round(tail_warm, 3),
                "grouped_tail_cold_sec": round(tail_cold, 3),
                "max_abs_beta_diff": beta_diff,
                "max_abs_se_diff": se_diff,
                "n_obs": n,
                "n_snps": p,
                "fits_per_sec": round(p / warm, 1),
                "result_rows": len(suff),
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()


