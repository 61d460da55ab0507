"""Seeded input generators. The same seed always gives the same inputs.

``panel`` draws the staggered-adoption panel of the estimator workload
(the ``make_panel_dgp`` shape of ``tests/test_did_parity.py``, widened to
two covariates and vectorised). ``write_star`` writes the ten tables the
query surface reads (``region nation customer supplier part orders
lineitem events documents embeddings``) with the schemas and value
domains of the synthetic test data, scaled by a TPC-H-style factor.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

PERIODS = tuple(range(1, 9))
COHORTS = (0, 3, 4, 5, 6, 7, 8)


def panel(seed: int, n_units: int) -> pd.DataFrame:
    """Balanced panel ``id, period, G, Y, x1, x2, wgt`` with never-treated
    units (G=0) and cohorts G=3..8. Cohort choice depends on ``x1``,
    trends depend on both covariates, and the true effect is
    ATT(g,t) = t - g + 1 for t >= g."""
    rng = np.random.default_rng(seed)
    x1 = rng.normal(size=n_units)
    x2 = rng.normal(size=n_units)
    # covariate-dependent cohort selection: a softmax over cohorts
    slopes = np.linspace(-0.3, 0.3, len(COHORTS))
    logits = np.outer(x1, slopes)
    probs = np.exp(logits - logits.max(axis=1, keepdims=True))
    probs /= probs.sum(axis=1, keepdims=True)
    pick = (probs.cumsum(axis=1) < rng.random(n_units)[:, None]).sum(axis=1)
    g = np.asarray(COHORTS, dtype=float)[np.minimum(pick, len(COHORTS) - 1)]
    fe = rng.normal(size=n_units)
    n_t = len(PERIODS)
    t = np.tile(np.asarray(PERIODS, dtype=float), n_units)
    gg, xx1, xx2 = (np.repeat(a, n_t) for a in (g, x1, x2))
    tau = np.where((gg > 0) & (gg <= t), t - gg + 1.0, 0.0)
    y = (
        np.repeat(fe, n_t)
        + 0.4 * t
        + 0.3 * xx1 * t
        - 0.2 * xx2 * t
        + tau
        + rng.normal(scale=0.4, size=n_units * n_t)
    )
    ids = np.arange(n_units, dtype=np.int64)
    return pd.DataFrame(
        {
            "id": np.repeat(ids, n_t),
            "period": t.astype(np.int32),
            "G": gg,
            "Y": y,
            "x1": xx1,
            "x2": xx2,
            "wgt": np.repeat(1.0 + 0.5 * (ids % 3), n_t),
        }
    )


REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["small", "red", "blue", "green", "large", "shiny", "steel", "brass"]
PART_NOUN = ["ring", "widget", "bolt", "gear", "valve", "spring", "panel", "nut"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the value "
    "vector window"
).split()
N_SOURCES = 20
EMB_DIM = 64


def _days(rng, start: str, span: int, n: int) -> np.ndarray:
    base = np.datetime64(start, "us")
    return base + rng.integers(0, span, n).astype("timedelta64[D]").astype("timedelta64[us]")


def _pick(rng, values: list[str], n: int) -> np.ndarray:
    return np.asarray(values)[rng.integers(0, len(values), n)]


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def star(seed: int, sf: float) -> dict[str, pa.Table]:
    """The ten tables at scale factor ``sf`` (sf 0.01 = 60k lineitems)."""
    rng = np.random.default_rng(seed)
    n_cust = max(150, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1_500, int(1_500_000 * sf))
    n_line = 4 * n_ord
    n_ev = max(1_000, int(1_000_000 * sf))
    n_users = max(15, int(15_000 * sf))
    n_docs = max(50, int(50_000 * sf))
    n_emb = max(500, int(20_000 * sf))
    i32 = pa.int32()
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), i32), "r_name": REGIONS}
    )
    out["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), i32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
        }
    )
    out["customer"] = pa.table(
        {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": rng.choice(SEGMENTS, n_cust),
        }
    )
    out["supplier"] = pa.table(
        {
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }
    )
    pk = np.arange(n_part, dtype=np.int64)
    out["part"] = pa.table(
        {
            "p_partkey": pk,
            "p_name": _pick(rng, [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN], n_part),
            "p_brand": _pick(rng, [f"Brand#{i}" for i in range(1, 26)], n_part),
            "p_type": rng.choice(PART_TYPES, n_part),
            "p_size": rng.integers(1, 51, n_part).astype(np.int32),
            "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 2),
        }
    )
    out["orders"] = pa.table(
        {
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
            "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
            "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
            "o_orderdate": _days(rng, "1995-01-01", 2405, n_ord),
            "o_orderpriority": rng.choice(PRIORITIES, n_ord),
        }
    )
    out["lineitem"] = pa.table(
        {
            "l_orderkey": rng.integers(0, n_ord, n_line).astype(np.int64),
            "l_partkey": rng.integers(0, n_part, n_line).astype(np.int64),
            "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
            "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
            "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105_000.0, n_line),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], n_line),
            "l_linestatus": rng.choice(["F", "O"], n_line),
            "l_shipdate": _days(rng, "1995-01-02", 2499, n_line),
        }
    )
    # events: Poisson arrivals over 30 days, ordered by time
    month_us = 30 * 86_400 * 1_000_000
    gaps = rng.exponential(1.0, n_ev)
    ts_us = np.floor(np.cumsum(gaps) / gaps.sum() * (month_us - 1_000_000)).astype(np.int64)
    out["events"] = pa.table(
        {
            "event_id": np.arange(n_ev, dtype=np.int64),
            "ts": np.datetime64("2024-01-01", "us") + ts_us.astype("timedelta64[us]"),
            "user_id": rng.integers(0, n_users, n_ev).astype(np.int64),
            "event_type": rng.choice(EVENT_TYPES, n_ev),
            "value": np.round(0.01 + rng.exponential(49.6, n_ev), 2),
            "props": _pick(rng, [f'{{"k": {i}}}' for i in range(100)], n_ev),
        }
    )
    # documents: random word strings; 5% are near-duplicates of another
    # document (a copy with one appended token)
    lens = rng.integers(10, 100, n_docs)
    words = rng.choice(WORDS, int(lens.sum()))
    texts = [" ".join(c) for c in np.split(words, np.cumsum(lens)[:-1])]
    dup_of = rng.integers(0, n_docs, n_docs)
    for i in np.flatnonzero(rng.random(n_docs) < 0.05):
        if dup_of[i] != i:
            texts[i] = texts[dup_of[i]] + " dup"
    out["documents"] = pa.table(
        {
            "doc_id": np.arange(n_docs, dtype=np.int64),
            "text": texts,
            "lang": rng.choice(LANGS, n_docs, p=LANG_P),
            "source": [f"src{i % N_SOURCES}" for i in range(n_docs)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )
    emb = rng.normal(size=(n_emb, EMB_DIM)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    out["embeddings"] = pa.table(
        {
            "vec_id": np.arange(n_emb, dtype=np.int64),
            "embedding": pa.array(list(emb), pa.list_(pa.float32())),
            "label": rng.integers(0, 10, n_emb).astype(np.int32),
        }
    )
    return out


def write_star(seed: int, sf: float, out_dir: str) -> dict[str, int]:
    """Write every table as one single-row-group parquet file (the layout
    of the test data) and return the row count of each."""
    os.makedirs(out_dir, exist_ok=True)
    rows = {}
    for name, table in star(seed, sf).items():
        pq.write_table(
            table, os.path.join(out_dir, f"{name}.parquet"), row_group_size=table.num_rows or 1
        )
        rows[name] = table.num_rows
    return rows
