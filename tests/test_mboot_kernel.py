"""Multiplier-bootstrap kernel: the unique-unit GEMM in
``bootstrap_draws`` against a naive per-row NumPy sum, partition
invariance, and the sup-t band's independence from a summary key
riding in the same pass. Default tier: these guard
the bootstrap every fit and aggregation SE comes from."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from csdid_pyspark_spark.did import mboot as mboot_mod
from csdid_pyspark_spark.did.mboot import _splitmix_sign, bootstrap_draws, mboot

BITERS = 41
SEED = 7
N_UNITS = 5000
N_KEYS = 8


@pytest.fixture(scope="module")
def if_pdf():
    """~24k (key, uh, inf) rows: every unit in a random subset of the
    keys (so units repeat across keys), rows shuffled, unit hashes
    spanning the whole int64 range."""
    rng = np.random.default_rng(11)
    uh = rng.integers(-(2**63), 2**63 - 1, size=N_UNITS, dtype=np.int64)
    member = rng.random((N_UNITS, N_KEYS)) < 0.6
    u_idx, keys = np.nonzero(member)
    pdf = pd.DataFrame(
        {"key": keys.astype(np.int32), "uh": uh[u_idx], "inf": rng.normal(size=len(keys))}
    )
    return pdf.sample(frac=1.0, random_state=3).reset_index(drop=True)


@pytest.fixture(scope="module")
def if_sdf(spark, if_pdf):
    return spark.createDataFrame(if_pdf, "key int, uh long, inf double")


def _naive_draws(pdf: pd.DataFrame, biters: int, seed: int):
    """S[b, k] = Σ_rows sign(uh, b)·inf, one sign per ROW."""
    keys, kpos = np.unique(pdf["key"].to_numpy(), return_inverse=True)
    uh, v = pdf["uh"].to_numpy(), pdf["inf"].to_numpy()
    S = np.stack([
        np.bincount(kpos, weights=_splitmix_sign(uh, b, seed) * v, minlength=len(keys))
        for b in range(biters)
    ])
    return [int(k) for k in keys], S


@pytest.mark.parametrize("dense_cells", [None, 1000])
def test_draws_match_naive_per_row_sum(if_sdf, if_pdf, monkeypatch, dense_cells):
    """One partition of >10k rows (several Arrow batches); with a small
    dense cap the kernel also takes its unit-chunked path."""
    assert len(if_pdf) > 20_000
    if dense_cells is not None:
        monkeypatch.setattr(mboot_mod, "_DENSE_CELLS", dense_cells)
    keys, S = bootstrap_draws(if_sdf.coalesce(1), "key", "uh", "inf", BITERS, SEED)
    want_keys, want = _naive_draws(if_pdf, BITERS, SEED)
    assert keys == want_keys
    assert S.shape == (BITERS, N_KEYS)
    assert np.abs(S - want).max() <= 1e-12 * np.abs(want).max()


def test_partition_count_does_not_change_ses_or_crit(if_sdf):
    one = mboot(if_sdf.coalesce(1), "key", "uh", "inf", N_UNITS, biters=BITERS, seed=SEED)
    four = mboot(if_sdf.repartition(4), "key", "uh", "inf", N_UNITS, biters=BITERS, seed=SEED)
    assert one.keys == four.keys == list(range(N_KEYS))
    for k in one.keys:
        assert four.se[k] == pytest.approx(one.se[k], rel=1e-12)
    assert four.crit_val == pytest.approx(one.crit_val, rel=1e-12)


def test_overall_key_leaves_the_band_unchanged(if_sdf):
    """A summary column (here the mean of all the IFs, as the
    aggregations' overall key) gets its own SE but no say in the
    per-key sup-t critical value. Enough draws that a band taken over
    every column would move."""
    biters = 199
    with_overall = if_sdf.unionByName(
        if_sdf.groupBy("uh").agg((F.sum("inf") / N_KEYS).alias("inf")).select(
            F.lit(-1).alias("key"), "uh", "inf"
        )
    )
    base = mboot(if_sdf, "key", "uh", "inf", N_UNITS, biters=biters, seed=SEED)
    both = mboot(
        with_overall, "key", "uh", "inf", N_UNITS,
        biters=biters, seed=SEED, band_keys=range(N_KEYS),
    )
    assert both.keys == [-1, *base.keys]
    assert both.crit_val == pytest.approx(base.crit_val, rel=1e-12)
    for k in base.keys:
        assert both.se[k] == pytest.approx(base.se[k], rel=1e-12)
    assert np.isfinite(both.se[-1]) and both.se[-1] > 0
    unbanded = mboot(with_overall, "key", "uh", "inf", N_UNITS, biters=biters, seed=SEED)
    assert unbanded.crit_val != pytest.approx(base.crit_val, rel=1e-6)
