"""Distributed, deterministic multiplier bootstrap.

The reference draws unseeded Rademacher weights on the driver with
joblib (reference mboot.py:17-61; nondeterministic run-to-run — its own
notebooks report different SEs per run, SURVEY.md §4). Here each draw's
weight for a unit is a seeded splitmix64 hash of (unit, draw), so
results are exactly reproducible, and the heavy multiply-accumulate
runs inside ``mapInPandas``: every partition emits only a
(draws × columns) partial matrix, which one shuffle reduces. Driver
memory is O(biters · columns) — never O(n).

The kernel works per unique unit, not per IF row. Rows are sorted by
unit hash within each partition, so a unit's rows (one per key it
touches) arrive in one Arrow batch. Each batch is scattered
(``np.add.at``) into a dense (units-in-batch × keys) matrix ``M``; the
splitmix sign of each unit is drawn once per draw, and a block of
draws is one GEMM ``signs(draws × units) @ M``. Sign evaluations fall
from rows × biters to units × biters. ``M`` is built in unit chunks of
at most ``_DENSE_CELLS`` cells and the sign block is block × chunk, so
executor memory stays O(batch) whatever the key count.

Quantile semantics match the reference exactly (inverted-CDF for both
the IQR-based sigma and the sup-t critical value, mboot.py:128-137).
"""

from __future__ import annotations

from collections.abc import Iterable, Iterator
from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, IntegerType, LongType, StructField, StructType

from csdid_pyspark_spark.did.stats import norm_ppf

_PARTIAL_SCHEMA = StructType(
    [
        StructField("b", IntegerType(), False),
        StructField("k", LongType(), False),
        StructField("s", DoubleType(), False),
    ]
)
# cap on the cells of one dense (units × keys) IF chunk: 16 MB of doubles
_DENSE_CELLS = 1 << 21


def _splitmix_sign(uh: np.ndarray, b, seed: int) -> np.ndarray:
    """Deterministic ±1 per (unit-hash, draw). ``b`` is a draw index or
    an array of them broadcasting against ``uh`` (the kernel passes a
    column of draws against a row of units). uint64 wraparound is the
    point of the mixing arithmetic — suppress the overflow warning."""
    with np.errstate(over="ignore"):
        z = (uh.astype(np.uint64)
             + np.uint64(0x9E3779B97F4A7C15) * (np.asarray(b) + 1).astype(np.uint64)
             + np.uint64(0xD1B54A32D192ED03) * np.uint64(seed + 1))
        z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
        z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
        z = z ^ (z >> np.uint64(31))
    return np.where((z & np.uint64(1)).astype(bool), 1.0, -1.0)


def bootstrap_draws(
    if_df: DataFrame,
    key_col: str,
    unit_hash_col: str,
    inf_col: str,
    biters: int,
    seed: int,
    block: int = 100,
) -> tuple[list[int], np.ndarray]:
    """Compute S[b, k] = Σ_rows sign(unit,b) · inf(row) for all draws b
    and IF keys k in one pass. Returns ``(keys, S)``: the sorted keys
    and the biters × |keys| draw matrix — tiny; everything larger stays
    on executors."""

    df = if_df.select(
        F.col(key_col).cast("long").alias("k"),
        F.col(unit_hash_col).cast("long").alias("uh"),
        F.col(inf_col).cast("double").alias("v"),
    ).sortWithinPartitions("uh")

    def partials(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # accumulate a (biters × keys-seen) partial per partition
        acc: dict[int, np.ndarray] = {}
        for pdf in batches:
            if pdf.empty:
                continue
            v = pdf["v"].to_numpy()
            keys, kpos = np.unique(pdf["k"].to_numpy(), return_inverse=True)
            units, upos = np.unique(pdf["uh"].to_numpy(), return_inverse=True)
            out = np.zeros((biters, len(keys)))
            chunk = max(1, _DENSE_CELLS // len(keys))
            for u0 in range(0, len(units), chunk):
                u1 = min(u0 + chunk, len(units))
                rows = slice(None) if u1 - u0 == len(units) else (upos >= u0) & (upos < u1)
                M = np.zeros((u1 - u0, len(keys)))
                np.add.at(M, (upos[rows] - u0, kpos[rows]), v[rows])
                for b0 in range(0, biters, block):
                    draws = np.arange(b0, min(b0 + block, biters))[:, None]
                    out[b0 : b0 + len(draws)] += (
                        _splitmix_sign(units[None, u0:u1], draws, seed) @ M
                    )
            for i, k in enumerate(keys):
                acc[int(k)] = acc.get(int(k), 0.0) + out[:, i]
        if not acc:
            return
        ks = np.fromiter(acc, dtype=np.int64, count=len(acc))
        yield pd.DataFrame(
            {
                "b": np.tile(np.arange(biters, dtype=np.int32), len(ks)),
                "k": np.repeat(ks, biters),
                "s": np.concatenate([acc[int(k)] for k in ks]),
            }
        )

    reduced = (
        df.mapInPandas(partials, _PARTIAL_SCHEMA)
        .groupBy("b", "k")
        .agg(F.sum("s").alias("s"))
        .toPandas()
    )
    keys = sorted(int(k) for k in reduced["k"].unique())
    kpos = reduced["k"].map({k: i for i, k in enumerate(keys)}).to_numpy()
    S = np.zeros((biters, len(keys)))
    S[reduced["b"].to_numpy(), kpos] = reduced["s"].to_numpy()
    return keys, S


@dataclass
class MbootResult:
    se: dict[int, float]  # per key
    crit_val: float
    bres: np.ndarray  # biters × n_keys (sqrt(n)·mean of v·IF)
    keys: list[int]
    V: np.ndarray | None = None  # bootstrap covariance over non-degenerate band keys
    # (reference mboot.py:125 — np.cov(bres); may be defective in degenerate cases)


def mboot(
    if_df: DataFrame,
    key_col: str,
    unit_hash_col: str,
    inf_col: str,
    n: int,
    biters: int = 999,
    alp: float = 0.05,
    seed: int = 42,
    band_keys: Iterable[int] | None = None,
) -> MbootResult:
    """Multiplier bootstrap over an IF table whose influence values are
    already scaled to the full unit universe (zeros implicit).

    bres[b,k] = sqrt(n) · (1/n) Σ_u v_ub · IF_u,k  — reference
    mboot.py:103 — then IQR-based sigma, sup-t crit value, se. Every
    key gets an SE; the sup-t critical value and ``V`` span only
    ``band_keys`` (default: all keys), so a summary column riding in
    the same pass leaves the band unchanged."""
    keys, draws = bootstrap_draws(if_df, key_col, unit_hash_col, inf_col, biters, seed)
    bres = draws * (np.sqrt(n) / n)

    # non-degenerate columns (reference mboot.py:118-121)
    ndg = np.logical_and(
        ~np.isnan(bres.sum(axis=0)),
        (bres**2).sum(axis=0) > np.sqrt(np.finfo(float).eps) * 10,
    )
    b_use = bres[:, ndg]
    q75 = np.quantile(b_use, 0.75, axis=0, method="inverted_cdf")
    q25 = np.quantile(b_use, 0.25, axis=0, method="inverted_cdf")
    sig = (q75 - q25) / (norm_ppf(0.75) - norm_ppf(0.25))
    se_arr = np.full(len(keys), np.nan)
    se_arr[ndg] = sig / np.sqrt(n)

    band = np.isin(np.asarray(keys)[ndg], list(band_keys if band_keys is not None else keys))
    b_band = b_use[:, band]
    with np.errstate(divide="ignore", invalid="ignore"):
        bT = np.max(np.abs(b_band / sig[band]), axis=1) if b_band.shape[1] else np.array([])
    bT = bT[np.isfinite(bT)]
    crit_val = float(np.quantile(bT, 1 - alp, method="inverted_cdf")) if len(bT) else float("nan")

    V = np.cov(b_band, rowvar=False) if b_band.shape[1] else None
    return MbootResult(
        se={k: float(se_arr[i]) for i, k in enumerate(keys)},
        crit_val=crit_val,
        bres=bres,
        keys=keys,
        V=V,
    )
