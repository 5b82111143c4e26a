"""Blocked pairwise-complete Pearson correlations for wide frames.

Why this exists: ``describe.correlations`` reads the pairwise-complete
block of the frame profile (functions/profile.py) for p <= 80; that
block is O(p²) per task and on the driver, which stops paying past a
few hundred columns, and the previous wide fallback
(``pyspark.ml.stat.Correlation``) both requires complete-case rows
(a semantic difference vs the reference's pandas ``df.corr``, which is
pairwise-complete) and materializes the full p x p matrix on the driver
— at p = 5,000 that is 25M cells, and a 100x-scale engine should not
hold it (VERDICT.md round 5, task 5).

Design (everything heavy stays on executors):

block-rows are batched into jobs under a per-partition emit budget;
each job:
    1. scans only ``cols[i_lo:]`` (column pruning: later jobs read
       fewer columns) through ONE ``selectExpr`` of CAST strings —
       NOT per-column ``F.col().cast()`` Columns, whose py4j
       round-trips cost ~18 s at p = 5,000 (the same plan-construction
       trap the round-5 GWAS fix closed);
    2. ``mapInArrow``: per partition, accumulate the six masked-Gram
       partials of every chunk block I vs every block J >= I over
       Arrow batches — with M = isfinite mask and X0 = nan-to-zero,
           n   = Mx'My    sx  = X0'My    sy  = Mx'Y0
           sxx = X0^2'My  syy = Mx'Y0^2  sxy = X0'Y0
       (exactly the pairwise-complete sufficient statistics: every sum
       runs over rows where BOTH columns are observed, matching pandas
       ``df.corr``) and emit ONE row per (partition, I, J): a float64
       payload of 6 stacked B x B blocks;
    3. ``applyInPandas`` grouped by (I, J): sum the per-partition
       payloads, finish
       r = (sxy - sx*sy/n) / sqrt((sxx - sx^2/n)(syy - sy^2/n)),
       and emit only cells with |r| >= threshold (upper triangle);
    4. collect the survivors (tiny by construction — the threshold
       filter runs inside the worker).

Memory: executors hold 6 * B^2 doubles per in-flight block pair (B=256
-> 3.1 MB payload rows) and at most ``emit_budget_bytes`` of
accumulated payloads per partition per job. The driver holds only
survivors — never a p x p structure. Scans = #jobs (~ p * B * 48 /
emit_budget) — at 100 TB you cache the (projected) frame or point this
at a row sample first.
"""

from __future__ import annotations

import math
from collections import Counter
from typing import Iterator

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame

from clarite_python_spark.catalog import qname

__all__ = ["block_correlations"]

_STATS = 6  # n, sx, sy, sxx, syy, sxy


def _partials_fn(n_iblocks: int, block_size: int):
    """mapInArrow kernel: chunk blocks 0..n_iblocks-1 of the selection
    vs every block J >= I; one output row per (I, J) with the stacked
    partial payload."""

    def emit(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        acc: dict[tuple[int, int], np.ndarray] = {}
        for batch in batches:
            ncols = batch.num_columns
            mat = np.full((batch.num_rows, ncols), np.nan, dtype=np.float64)
            for ci in range(ncols):
                mat[:, ci] = batch.column(ci).to_numpy(zero_copy_only=False)
            n_j = (ncols + block_size - 1) // block_size
            for j in range(n_j):
                yb = mat[:, j * block_size : (j + 1) * block_size]
                my = np.isfinite(yb)
                y0 = np.where(my, yb, 0.0)
                y2 = y0 * y0
                myf = my.astype(np.float64)
                for i in range(min(j + 1, n_iblocks)):
                    xb = mat[:, i * block_size : (i + 1) * block_size]
                    mx = np.isfinite(xb)
                    x0 = np.where(mx, xb, 0.0)
                    mxf = mx.astype(np.float64)
                    part = np.stack(
                        [
                            mxf.T @ myf,        # n
                            x0.T @ myf,         # sx
                            mxf.T @ y0,         # sy
                            (x0 * x0).T @ myf,  # sxx
                            mxf.T @ y2,         # syy
                            x0.T @ y0,          # sxy
                        ]
                    )
                    key = (i, j)
                    if key in acc:
                        acc[key] += part
                    else:
                        acc[key] = part
        if acc:
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array([k[0] for k in acc], type=pa.int32()),
                    pa.array([k[1] for k in acc], type=pa.int32()),
                    pa.array([a.tobytes() for a in acc.values()], type=pa.large_binary()),
                    pa.array(
                        [list(a.shape[1:]) for a in acc.values()],
                        type=pa.list_(pa.int32()),
                    ),
                ],
                names=["iblock", "jblock", "payload", "shape"],
            )

    return emit


def _finish_fn(i_lo: int, block_size: int, threshold: float):
    """applyInPandas reducer: sum per-partition payloads for one (I, J)
    block pair, finish the correlation, emit |r| >= threshold cells."""

    def finish(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        iblock, jblock = (int(k) for k in key)
        rows_i, rows_j = pdf["shape"].iloc[0]
        tot = np.zeros((_STATS, rows_i, rows_j), dtype=np.float64)
        for buf in pdf["payload"]:
            tot += np.frombuffer(buf, dtype=np.float64).reshape(_STATS, rows_i, rows_j)
        n, sx, sy, sxx, syy, sxy = tot
        with np.errstate(invalid="ignore", divide="ignore"):
            cov = sxy - sx * sy / n
            vx = sxx - sx * sx / n
            vy = syy - sy * sy / n
            r = cov / np.sqrt(vx * vy)
        r[n < 2] = np.nan
        ii, jj = np.nonzero(np.abs(r) >= threshold)
        gi = ii + i_lo + iblock * block_size
        gj = jj + i_lo + jblock * block_size
        keep = gi < gj  # upper triangle only (drops self + mirrored cells)
        return pd.DataFrame(
            {
                "i": gi[keep].astype("int32"),
                "j": gj[keep].astype("int32"),
                "correlation": r[ii[keep], jj[keep]],
            }
        )

    return finish


def _chunk_block_rows(n_blocks: int, payload_bytes: int, budget: int) -> list[list[int]]:
    """Group consecutive block-rows so each job's per-partition emitted
    payload stays under ``budget`` bytes (block-row i emits n_blocks - i
    payload rows)."""
    chunks: list[list[int]] = []
    cur: list[int] = []
    cur_rows = 0
    for bi in range(n_blocks):
        rows = n_blocks - bi
        if cur and (cur_rows + rows) * payload_bytes > budget:
            chunks.append(cur)
            cur, cur_rows = [], 0
        cur.append(bi)
        cur_rows += rows
    if cur:
        chunks.append(cur)
    return chunks


def block_correlations(
    df: DataFrame,
    cols: list[str],
    threshold: float = 0.75,
    block_size: int = 256,
    emit_budget_bytes: int = 128 << 20,
    max_concurrent_jobs: int = 4,
) -> list[tuple[str, str, float]]:
    """All (var1, var2, correlation) pairs with |r| >= threshold among
    ``cols``, pairwise-complete (pandas ``df.corr`` semantics), without
    ever materializing a p x p matrix anywhere.

    Returns the (small, threshold-filtered) survivor list, sorted by
    the caller's column order (deterministic — the per-chunk collect
    order never was).

    r14: the chunk jobs are independent (disjoint block-row ranges of
    one shared input) and at wide p the per-job cost is dominated by
    FIXED overhead — Catalyst analysis of a thousands-of-columns
    projection plus Python-worker spin-up, measured ~17 s/job at
    p=5,000 vs ~27 s for the entire computation in one job — so they
    are submitted from a driver thread pool (guide §2.6) instead of
    serially, and the CAST projection is skipped when every tail
    column is already DOUBLE (schema check is driver-side metadata;
    the CAST parse of 5,000 expression strings is not). Identical
    partials, identical survivor set (measured 129.8 -> ~35 s on the
    5,000-column pin).
    """
    from concurrent.futures import ThreadPoolExecutor

    if len(set(cols)) != len(cols):
        dup = sorted(c for c, k in Counter(cols).items() if k > 1)
        # the dtype lookup below and the projection both key on names
        raise ValueError(f"duplicate column names in cols: {dup}")
    p = len(cols)
    n_blocks = (p + block_size - 1) // block_size
    payload_bytes = _STATS * block_size * block_size * 8
    dtypes = dict(df.dtypes)

    def _run_chunk(chunk: list[int]) -> list:
        i_lo = chunk[0] * block_size
        tail = cols[i_lo:]
        if all(
            dtypes.get(c) == "double" and "." not in c and "`" not in c
            for c in tail
        ):
            # plain name-list projection: no 5,000-expression CAST parse;
            # dotted/backticked names keep the quoted CAST path below
            sub = df.select(*tail)
        else:
            sub = df.selectExpr(*[f"CAST({qname(c)} AS DOUBLE) AS {qname(c)}" for c in tail])
        partials = sub.mapInArrow(
            _partials_fn(len(chunk), block_size),
            "iblock int, jblock int, payload binary, shape array<int>",
        )
        survivors = partials.groupBy("iblock", "jblock").applyInPandas(
            _finish_fn(i_lo, block_size, threshold),
            "i int, j int, correlation double",
        )
        return survivors.collect()

    chunks = _chunk_block_rows(n_blocks, payload_bytes, emit_budget_bytes)
    out: list[tuple[str, str, float]] = []
    keyed: list[tuple[int, int, str, str, float]] = []
    with ThreadPoolExecutor(
        max_workers=max(1, min(max_concurrent_jobs, len(chunks)))
    ) as pool:
        for rows in pool.map(_run_chunk, chunks):
            for row in rows:
                r = float(row["correlation"])
                if not math.isnan(r):
                    i, j = int(row["i"]), int(row["j"])
                    keyed.append((i, j, cols[i], cols[j], r))
    keyed.sort(key=lambda t: (t[0], t[1]))
    out = [(a, b, r) for _, _, a, b, r in keyed]
    return out
