"""The benchmark's workloads: inputs, one op, and the output checks.

A workload object is built once per run. ``generate`` writes its inputs
(part of set-up), ``op`` runs one unit of work through the program's
public API and returns what the checks need, and ``check`` returns one
failure message per op that produced a wrong output (``None`` when
right). Checks run after the timed region.
"""

from __future__ import annotations

import importlib.util
import math
import os
import random

import numpy as np

import gen

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
AGG_TYPES = ("simple", "group", "calendar", "dynamic")


def load_reference():
    """The NumPy DRDID reference that the repository's parity tests use."""
    path = os.path.join(ROOT, "tests", "ref_drdid.py")
    spec = importlib.util.spec_from_file_location("ref_drdid", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


# ---------------------------------------------------------------------------
# did_panel_dr_boot
# ---------------------------------------------------------------------------


class DidPanelDrBoot:
    """Fresh ``ATTgt`` on a balanced panel: DR fit with the multiplier
    bootstrap and a uniform band, all four aggregations, then release."""

    biters = 999

    def __init__(self, seed: int, n_units: int):
        self.seed = seed
        self.n_units = n_units
        self.pdf = None
        self.df = None

    def generate(self, spark, work: str) -> int:
        self.pdf = gen.panel(self.seed, self.n_units)
        path = os.path.join(work, "panel.parquet")
        self.pdf.to_parquet(path, index=False)
        self.df = spark.read.parquet(path)
        return len(self.pdf)

    def op(self):
        from csdid_pyspark_spark.did import ATTgt

        est = ATTgt(
            self.df, "Y", "period", "id", "G",
            xfmla="Y ~ x1 + x2", weights_name="wgt",
            biters=self.biters, seed=self.seed,
        )
        table = est.fit(est_method="dr", bstrap=True, cband=True)
        aggs = {t: est.compute_aggte(t) for t in AGG_TYPES}
        est.unpersist()
        return table, aggs

    def check(self, outputs) -> list[str | None]:
        ref = load_reference()
        pdf = self.pdf.sort_values(["id", "period"])
        periods = sorted(pdf["period"].unique())
        col = {t: i for i, t in enumerate(periods)}
        ymat = pdf["Y"].to_numpy().reshape(self.n_units, len(periods))
        units = pdf[pdf["period"] == periods[0]]
        g_u = units["G"].to_numpy()
        w_u = units["wgt"].to_numpy()
        x_u = np.column_stack([np.ones(self.n_units), units["x1"], units["x2"]])
        pg = {g: w_u[g_u == g].sum() / self.n_units for g in np.unique(g_u) if g > 0}

        first_table, first_aggs = outputs[0]
        bad: list[str | None] = []
        for table, aggs in outputs:
            msg = None
            for row in table.itertuples():
                g, t = row.g, row.t
                pret = g - 1 if t >= g else t - 1
                keep = (g_u == g) | (g_u == 0)
                att, _ = ref.drdid_panel(
                    ymat[keep, col[t]], ymat[keep, col[pret]],
                    (g_u[keep] == g).astype(float), x_u[keep], w_u[keep],
                )
                if not abs(row.att - att) <= 1e-8:
                    msg = f"ATT({g},{t}) {row.att!r} != reference {att!r}"
                    break
                if not math.isfinite(row.se):
                    msg = f"bootstrap SE of ({g},{t}) is not finite"
                    break
            msg = msg or _check_aggte(table, aggs, pg)
            if msg is None and not (
                table["se"].equals(first_table["se"])
                and all(_agg_ses(aggs[k]) == _agg_ses(first_aggs[k]) for k in AGG_TYPES)
            ):
                msg = "seeded bootstrap SEs differ between ops of one run"
            bad.append(msg)
        return bad


def _agg_ses(res) -> list[float]:
    return [res.overall_se, *res.se_egt]


def _check_aggte(table, aggs, pg) -> str | None:
    """Recompute each aggregation's ATTs from the ATT(g,t) table with
    cohort shares ``pg`` (the pg-weighted averages of Callaway and
    Sant'Anna, 2021) and compare, along with the SEs' finiteness."""
    cells = [(r.g, r.t, r.att, pg[r.g]) for r in table.itertuples()]
    post = [c for c in cells if c[0] <= c[1]]

    def wmean(cs):
        return sum(a * p for _, _, a, p in cs) / sum(p for *_, p in cs)

    groups = sorted({g for g, *_ in post})
    att_g = [np.mean([a for g2, _, a, _ in post if g2 == g]) for g in groups]
    times = sorted({t for _, t, *_ in post})
    att_t = [wmean([c for c in post if c[1] == t]) for t in times]
    events = sorted({t - g for g, t, *_ in cells})
    att_e = [wmean([c for c in cells if c[1] - c[0] == e]) for e in events]
    want = {
        "simple": ([], [], wmean(post)),
        "group": (
            groups, att_g,
            sum(a * pg[g] for a, g in zip(att_g, groups)) / sum(pg[g] for g in groups),
        ),
        "calendar": (times, att_t, float(np.mean(att_t))),
        "dynamic": (events, att_e, float(np.mean([a for a, e in zip(att_e, events) if e >= 0]))),
    }
    for typec, (egt, atts, overall) in want.items():
        res = aggs[typec]
        if [float(e) for e in egt] != list(res.egt):
            return f"aggte {typec}: keys {res.egt} != {egt}"
        if not np.allclose(res.att_egt, atts, rtol=1e-9, atol=1e-10):
            return f"aggte {typec}: ATTs {res.att_egt} != recomputed {atts}"
        if not math.isclose(res.overall_att, overall, rel_tol=1e-9, abs_tol=1e-10):
            return f"aggte {typec}: overall {res.overall_att} != recomputed {overall}"
        if not all(math.isfinite(s) for s in _agg_ses(res)):
            return f"aggte {typec}: non-finite SE"
    return None


# ---------------------------------------------------------------------------
# query_mix_sf01
# ---------------------------------------------------------------------------

class QueryMix:
    """Named queries from the ``QUERIES`` registry over generated star
    tables; one op is one query call plus a noop write, then
    ``release_cache``. The order is shuffled per pass by the seed. Every
    query in the mix has an SQL oracle: a query whose oracle is a pinned
    VALUES golden is valid only on the repository's own test data."""

    def __init__(self, seed: int, sf: float, names: list[str]):
        self.seed = seed
        self.sf = sf
        self.names = list(names)
        self.data_dir = None
        self.rows = {}
        self._rng = random.Random(seed)

    def generate(self, spark, work: str) -> int:
        self.data_dir = os.path.join(work, "star")
        self.rows = gen.write_star(self.seed, self.sf, self.data_dir)
        return sum(self.rows.values())

    def passes(self):
        """Endless shuffled passes over the mix."""
        while True:
            order = list(self.names)
            self._rng.shuffle(order)
            yield order

    def call(self, spark, name: str):
        from csdid_pyspark_spark.queries import QUERIES

        return QUERIES[name](spark, self.data_dir)

    @staticmethod
    def write(df) -> None:
        df.write.format("noop").mode("overwrite").save()

    def check(self, spark, names_run: list[str]) -> list[str | None]:
        """One message per op in ``names_run`` (None when right). SQL
        oracles run in DuckDB over the same generated parquet."""
        import duckdb

        from csdid_pyspark_spark.cache import release_cache
        from csdid_pyspark_spark.queries import ORACLES

        con = duckdb.connect()
        try:
            for t in self.rows:
                con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM '{self.data_dir}/{t}.parquet'"
                )
            verdict: dict[str, str | None] = {}
            for name in sorted(set(names_run)):
                try:
                    df = self.call(spark, name)
                    srows = normalize_rows([tuple(r) for r in df.collect()], df.columns)
                    release_cache(df)
                    res = con.execute(ORACLES[name])
                    dcols = [d[0] for d in res.description]
                    drows = normalize_rows(res.fetchall(), dcols)
                    verdict[name] = compare_rows(name, df.columns, srows, dcols, drows)
                except Exception as exc:  # a check that raises fails the query's ops
                    verdict[name] = f"{name}: check raised {type(exc).__name__}: {exc}"
        finally:
            con.close()
        return [verdict[n] for n in names_run]


def normalize_rows(rows, cols):
    """Rows with columns in name order, floats rounded to 9 places, sorted:
    the comparison form of ``tests/test_oracle_queries.py``."""
    order = sorted(range(len(cols)), key=lambda i: cols[i].lower())
    out = [
        tuple(round(r[i], 9) if isinstance(r[i], float) else r[i] for i in order) for r in rows
    ]
    out.sort(key=lambda r: tuple((x is None, str(type(x)), x) for x in r))
    return out


def compare_rows(name, scols, srows, dcols, drows) -> str | None:
    """First difference between normalized Spark and oracle rows, or None."""
    if sorted(c.lower() for c in scols) != sorted(c.lower() for c in dcols):
        return f"{name}: columns {scols} != oracle {dcols}"
    if len(srows) != len(drows):
        return f"{name}: {len(srows)} rows != oracle {len(drows)}"
    for ra, rb in zip(srows, drows):
        for a, b in zip(ra, rb):
            if isinstance(a, float) and isinstance(b, float):
                if (math.isnan(a) and math.isnan(b)) or abs(a - b) <= 1e-9:
                    continue
                return f"{name}: value {a!r} != oracle {b!r}"
            if a != b:
                return f"{name}: value {a!r} != oracle {b!r}"
    return None
