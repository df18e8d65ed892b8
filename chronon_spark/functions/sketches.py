"""Shared sketch primitives — ONE estimator for every execution path.

APPROX_UNIQUE_COUNT rides an HLL register sketch (p=9, 512 registers):
idx = top-p bits of xxhash64(value), rho = leading-zero rank of the
remaining 55 bits. Registers merge by MAX, so per-tile maps, kernel
rollups and raw-range stitches are all pure register maxima — the
mergeable-IR contract the reference carries in its CPC hops
(aggregator/base/SimpleAggregators.scala:716-760; CPC byte parity is
out of reach without the datasketches wheel, documented in BENCH).

Every path hashes values to (idx, rho) on the JVM the same way
(``hll_idx_rho_exprs``; the tile frame's register maps spell the same
expression), and every kernel estimates with ``hll_estimate`` through
the shared op algebra (functions/op_algebra.py), so ``mode="raw"``,
``mode="tiled"`` and the upload fetch answer the same estimate on
identical input.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F

HLL_P = 9
HLL_M = 1 << HLL_P
_W_BITS = 64 - HLL_P
_ALPHA = 0.7213 / (1 + 1.079 / HLL_M)
_POW2 = np.power(2.0, -np.arange(64, dtype=np.float64))


def hll_idx_rho_exprs(col: str) -> tuple[Column, Column]:
    """JVM-side (idx, rho) expressions for one input column, null-guarded:
    a NULL value yields NULL idx/rho (xxhash64(NULL) would otherwise hash
    the seed and pollute register 0 — the null-update-guard contract)."""
    h = f"xxhash64({col})"
    w = f"({h} & {(1 << _W_BITS) - 1})"
    idx = F.expr(
        f"CASE WHEN {col} IS NOT NULL THEN "
        f"CAST(shiftrightunsigned({h}, {_W_BITS}) AS INT) END"
    )
    rho = F.expr(
        f"CASE WHEN {col} IS NOT NULL THEN "
        f"CAST(CASE WHEN {w} = 0 THEN {_W_BITS + 1} "
        f"ELSE {_W_BITS + 1} - length(bin({w})) END AS INT) END"
    )
    return idx, rho


def hll_estimate(regs: np.ndarray) -> int:
    """Standard HLL estimate with linear-counting small-range correction
    over a dense uint8 register array of size HLL_M."""
    est = _ALPHA * HLL_M * HLL_M / _POW2[regs.astype(np.int64)].sum()
    zeros = int((regs == 0).sum())
    if est <= 2.5 * HLL_M and zeros > 0:
        est = HLL_M * np.log(HLL_M / zeros)
    return int(round(est))
