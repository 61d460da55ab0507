"""ATT(g,t) aggregations: simple / group / calendar / dynamic.

Semantics follow the reference (ATTgt.py:519-878) and R ``did::aggte``
— including the **dynamic** event-study type the reference accepts but
never implemented (SURVEY.md §2.6 K17) and the weight-estimation
influence correction ``wif`` (reference utils_aggte.py:7-36).

Every aggregate is a linear combination of cell influence functions
plus a wif term, so an aggregation is ONE lazy pass over the long IF
table, whatever its type. The driver composes, for every output key,
the cell weights θ and the per-cohort wif coefficients; the overall
ATT is one more key (``OVERALL_KEY = -1``) whose weights are a linear
combination of the per-key ones (its IF is the same combination of
theirs). The executors then build one ``(key, uh, inf)`` table:

    θ-weighted IF rows  (IF table ⋈ broadcast (cid, key, θ))
    ∪ wif rows          (unit weights ⋈ broadcast (key, g_u, coef))
    → groupBy(key, uh).sum

which feeds one bootstrap pass for every key at once, or, without
``bstrap``, one ``groupBy(key)`` sum of squares (the analytic SEs).
Per-unit aggregated IFs never leave the executors; the driver sees
O(|egt|) scalars and O(biters·|egt|) bootstrap partials.

The wif term of keeper set K for unit u — utils_aggte.py's if1−if2
summed against att — is

    (w_u·α_{G_u} − Sa)/P − (w_u·c_{G_u} − P)·Sa/P²  =  w_u·(α_{G_u}/P − c_{G_u}·Sa/P²)

with α_g = Σ_{k∈K: g_k=g} att_k, c_g = |{k∈K: g_k=g}|, Sa = Σ att_k·pg_k,
P = Σ pg_k. The constants cancel, so a unit outside the keeper cohorts
contributes exactly 0 and the wif rows come from an inner join.
"""

from __future__ import annotations

import math
import warnings
from dataclasses import dataclass, field

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from csdid_pyspark_spark.did.mboot import mboot
from csdid_pyspark_spark.did.preprocess import DidError
from csdid_pyspark_spark.did.stats import norm_ppf

OVERALL_KEY = -1
_TINY_SE = math.sqrt(2.220446049250313e-16) * 10


@dataclass
class AggteResult:
    typec: str
    overall_att: float
    overall_se: float
    egt: list[float]
    att_egt: list[float]
    se_egt: list[float]
    crit_val_egt: float
    min_e: float
    max_e: float
    balance_e: float | None
    alp: float
    table: pd.DataFrame = field(default=None)

    def summary(self) -> str:
        """Printable aggregation summary (reference AGGTEobj,
        utils_aggte.py:69-192)."""
        titles = {
            "simple": "Overall summary of ATT's (simple weighted average):",
            "dynamic": "Overall summary of ATT's based on event-study/dynamic aggregation:",
            "group": "Overall summary of ATT's based on group/cohort aggregation:",
            "calendar": "Overall summary of ATT's based on calendar time aggregation:",
        }
        z = norm_ppf(1 - self.alp / 2)
        lo = self.overall_att - z * self.overall_se
        hi = self.overall_att + z * self.overall_se
        head = (
            f"{titles[self.typec]}\n"
            f"   ATT {self.overall_att: .4f}  se {self.overall_se: .4f}  "
            f"[{100 * (1 - self.alp):.0f}% conf. int. {lo: .4f}, {hi: .4f}]"
            f"{'*' if lo > 0 or hi < 0 else ''}\n"
        )
        if self.table is not None and not self.table.empty:
            label = {"dynamic": "Event time", "group": "Group", "calendar": "Time"}[self.typec]
            head += f"\n{label} effects:\n" + self.table.round(4).to_string(index=False) + "\n"
        return head + "---\nSignif. codes: '*' confidence band does not cover 0"

    def __post_init__(self):
        if self.egt:
            lower = [a - self.crit_val_egt * s for a, s in zip(self.att_egt, self.se_egt)]
            upper = [a + self.crit_val_egt * s for a, s in zip(self.att_egt, self.se_egt)]
            self.table = pd.DataFrame(
                {
                    "egt": self.egt,
                    "att": self.att_egt,
                    "se": self.se_egt,
                    "lower": lower,
                    "upper": upper,
                    "sig": [lo > 0 or up < 0 for lo, up in zip(lower, upper)],
                }
            )


def _wif_coefs(keepers: list[dict]) -> dict[float, float]:
    """Cohort → wif coefficient of keeper set K: unit u's wif term is
    w_u·coef[G_u], and 0 outside the keeper cohorts."""
    P = sum(k["pg"] for k in keepers)
    Sa = sum(k["att"] * k["pg"] for k in keepers)
    per_g: dict[float, list[float]] = {}
    for k in keepers:
        a, c = per_g.get(k["g"], [0.0, 0.0])
        per_g[k["g"]] = [a + k["att"], c + 1.0]
    return {g: a / P - c * Sa / (P * P) for g, (a, c) in per_g.items()}


def _combine(parts) -> dict:
    """Σ λ·d over ``(λ, d)`` pairs of sparse coefficient dicts."""
    out: dict = {}
    for lam, d in parts:
        for x, v in d.items():
            out[x] = out.get(x, 0.0) + lam * v
    return out


def aggte_weights(
    typec: str,
    infos: list[dict],
    tlist: list[float],
    balance_e: float | None = None,
    min_e: float = float("-inf"),
    max_e: float = float("inf"),
):
    """Driver-side algebra of one aggregation. ``infos`` are the cells
    (cid, g, t, att, pg). Returns ``(egts, atts, att_o, theta, coef)``:
    the sorted keys' labels and ATTs, the overall ATT, and per output
    key (``0..len(egts)-1`` and ``OVERALL_KEY``) its cell weights
    ``theta[key][cid]`` and wif coefficients ``coef[key][g]``."""
    if typec == "simple":
        keep = [k for k in infos if k["g"] <= k["t"] <= k["g"] + max_e]
        if not keep:
            raise DidError("no post-treatment cells to aggregate")
        tot = sum(k["pg"] for k in keep)
        att_o = sum(k["att"] * k["pg"] for k in keep) / tot
        theta = {OVERALL_KEY: {k["cid"]: k["pg"] / tot for k in keep}}
        return [], [], att_o, theta, {OVERALL_KEY: _wif_coefs(keep)}

    groups: dict[float, list[dict]] = {}
    if typec == "group":
        for k in infos:
            if k["g"] <= k["t"] <= k["g"] + max_e:
                groups.setdefault(k["g"], []).append(k)
    elif typec == "calendar":
        min_g = min(k["g"] for k in infos)
        for k in infos:
            if k["t"] >= min_g and k["g"] <= k["t"]:
                groups.setdefault(k["t"], []).append(k)
    else:  # dynamic
        span = max(tlist) - min(tlist)
        for k in infos:
            e = k["t"] - k["g"]
            if not (min_e <= e <= max_e):
                continue
            if balance_e is not None:
                max_t = max(i["t"] for i in infos)
                # R did balanced event-study window: cohorts observed
                # for >= balance_e post periods, event times trimmed to
                # balance_e - (t2 - t1) <= e <= balance_e — the lower
                # trim keeps cohort composition IDENTICAL across every
                # retained event time (without it, deep-negative e
                # averages over a different cohort mix).
                if max_t - k["g"] < balance_e or e > balance_e or e < balance_e - span:
                    continue
            groups.setdefault(e, []).append(k)

    egts = sorted(groups)
    atts: list[float] = []
    theta: dict[int, dict] = {}
    coef: dict[int, dict] = {}
    for i, e in enumerate(egts):
        ks = groups[e]
        if typec == "group":  # equal cell weights; pg is constant within a cohort
            theta[i] = {k["cid"]: 1.0 / len(ks) for k in ks}
            atts.append(sum(k["att"] for k in ks) / len(ks))
        else:
            tot = sum(k["pg"] for k in ks)
            theta[i] = {k["cid"]: k["pg"] / tot for k in ks}
            atts.append(sum(k["att"] * k["pg"] / tot for k in ks))
            coef[i] = _wif_coefs(ks)

    # the overall IF is a linear combination λ of the per-key IFs, plus
    # (group) a wif term of its own over the cohorts
    if typec == "group":
        pgg = [groups[g][0]["pg"] for g in egts]
        tot = sum(pgg)
        att_o = sum(a * p for a, p in zip(atts, pgg)) / tot
        lam = {i: p / tot for i, p in enumerate(pgg)}
        own = _wif_coefs([{"g": g, "att": a, "pg": p} for g, a, p in zip(egts, atts, pgg)])
    else:
        if typec == "calendar":
            o_keys = list(range(len(egts)))
        else:  # dynamic: average post-treatment event times
            o_keys = [i for i, e in enumerate(egts) if e >= 0]
        att_o = sum(atts[i] for i in o_keys) / len(o_keys)
        lam = {i: 1.0 / len(o_keys) for i in o_keys}
        own = {}
    theta[OVERALL_KEY] = _combine((w, theta[i]) for i, w in lam.items())
    coef[OVERALL_KEY] = _combine(
        [(w, coef[i]) for i, w in lam.items() if i in coef] + [(1.0, own)]
    )
    return egts, atts, att_o, theta, coef


def build_if_table(
    spark,
    if_df: DataFrame,
    unitw: DataFrame,
    theta: dict[int, dict],
    coef: dict[int, dict],
) -> DataFrame:
    """The aggregated IF of every output key as one lazy
    ``(key, uh, inf)`` table: the IF table's θ-weighted rows and the
    wif rows, each from one broadcast join, reduced by one
    ``groupBy(key, uh)``. The IF table is read exactly once however
    many keys there are (the plan property tests/test_plans.py
    asserts)."""
    wdf = spark.createDataFrame(
        [(key, cid, w) for key, ws in theta.items() for cid, w in ws.items()],
        "key int, cid int, theta double",
    )
    rows = if_df.join(F.broadcast(wdf), "cid").select(
        "key", "uh", (F.col("theta") * F.col("inf_sc")).alias("inf")
    )
    coef_rows = [(key, g, c) for key, cs in coef.items() for g, c in cs.items()]
    if coef_rows:
        gdf = spark.createDataFrame(coef_rows, "key int, g_u double, coef double")
        rows = rows.unionByName(
            unitw.join(F.broadcast(gdf), "g_u").select(
                "key", "uh", (F.col("w_u") * F.col("coef")).alias("inf")
            )
        )
    return rows.groupBy("key", "uh").agg(F.sum("inf").alias("inf"))


def compute_aggte(
    attgt,
    typec: str = "group",
    balance_e: float | None = None,
    min_e: float = float("-inf"),
    max_e: float = float("inf"),
    na_rm: bool = False,
    bstrap: bool | None = None,
    cband: bool | None = None,
    biters: int | None = None,
    alp: float | None = None,
) -> AggteResult:
    if typec not in ("simple", "dynamic", "group", "calendar"):
        raise DidError("typec must be one of ['simple','dynamic','group','calendar']")
    fr = attgt.fit_result
    if fr is None:
        raise DidError("call fit() before compute_aggte()")
    bstrap = fr.bstrap if bstrap is None else bstrap
    cband = fr.cband if cband is None else cband
    biters = attgt.biters if biters is None else biters
    alp = attgt.alp if alp is None else alp
    spark = attgt.spark
    n = fr.n
    z = float(norm_ppf(1 - alp / 2))

    cells = fr.cell_map.merge(
        fr.table[["g", "t", "post", "att"]], on=["g", "t", "post"], how="left"
    )
    if cells["att"].isna().any():
        if not na_rm:
            raise DidError("missing ATT(g,t) values; set na_rm=True to drop them")
        cells = cells[cells["att"].notna()]
    cells = cells.reset_index(drop=True)

    unitw = attgt._unit_weights()
    pg = getattr(attgt, "_pg_cache", None)
    if pg is None:  # one scan per estimator: every aggte type reuses it
        pg_rows = unitw.groupBy("g_u").agg((F.sum("w_u") / n).alias("pg")).collect()
        pg = {r["g_u"]: r["pg"] for r in pg_rows}
        attgt._pg_cache = pg

    infos = [
        {"cid": int(r.cid), "g": float(r.g), "t": float(r.t), "att": float(r.att),
         "pg": pg.get(float(r.g), 0.0)}
        for r in cells.itertuples()
    ]
    egts, atts, att_o, theta, coef = aggte_weights(
        typec, infos, attgt.pdata.tlist, balance_e, min_e, max_e
    )
    tbl = build_if_table(spark, fr.if_df, unitw, theta, coef)

    # ----- every key's SE (overall included) from one pass over tbl ---------
    nan = float("nan")
    crit = z
    if bstrap:
        clustered = attgt.pdata.has_cluster
        mb = mboot(
            attgt._cluster_collapse(tbl, "key", "inf") if clustered else tbl,
            "key", "uh", "inf",
            attgt._n_clusters() if clustered else n,
            biters, alp, attgt.seed,
            band_keys=range(len(egts)),
        )
        ses = mb.se  # one per key of tbl
        if cband and egts:
            crit = mb.crit_val
            if not math.isfinite(crit) or crit < z:
                warnings.warn("simultaneous critical value degenerate; reporting pointwise bands", stacklevel=2)
                crit = z
            elif crit >= 7:
                warnings.warn("simultaneous critical value very large; estimates may be unreliable", stacklevel=2)
    else:
        se_rows = tbl.groupBy("key").agg(
            (F.sqrt(F.sum(F.col("inf") * F.col("inf"))) / n).alias("se")
        ).collect()
        ses = {r["key"]: r["se"] if r["se"] > _TINY_SE else nan for r in se_rows}

    return AggteResult(
        typec,
        float(att_o),
        ses.get(OVERALL_KEY, nan),
        [float(e) for e in egts],
        [float(a) for a in atts],
        [ses.get(i, nan) for i in range(len(egts))],
        float(crit),
        min_e,
        max_e,
        balance_e,
        alp,
    )
