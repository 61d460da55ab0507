"""Aggregation (aggte) tests: exact parity of the distributed
simple/group/calendar/dynamic aggregations — point estimates, wif-
corrected influence functions, and SEs — against an independent NumPy
composition of the reference kernels, plus truth-recovery checks."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from csdid_pyspark_spark.did import ATTgt
from tests import ref_drdid
from tests.test_did_parity import _cell_arrays_panel, make_panel_dgp


@pytest.fixture(scope="module")
def dgp():
    return make_panel_dgp(n_units=250, periods=(1, 2, 3, 4), cohorts=(0, 3, 4), seed=9)


@pytest.fixture(scope="module")
def fitted(spark, dgp):
    sdf = spark.createDataFrame(dgp)
    est = ATTgt(sdf, "Y", "period", "id", "G", xfmla="Y ~ x1", weights_name="wgt",
                allow_unbalanced_panel=False)
    est.fit(est_method="dr")
    return est


@pytest.fixture(scope="module")
def numpy_cells(dgp):
    """Per-cell numpy estimates + universe-scaled IFs, unit weights."""
    units = dgp[dgp.period == 1].sort_values("id")
    ids = units["id"].to_numpy()
    n = len(ids)
    pos = {u: i for i, u in enumerate(ids)}
    w_u = units["wgt"].to_numpy()
    g_u = units["G"].to_numpy()
    cells = []
    for g in (3.0, 4.0):
        for t in (2.0, 3.0, 4.0):
            pret = g - 1 if t >= g else t - 1
            y1, y0, D, X, w = _cell_arrays_panel(dgp, g, t, pret, "nevertreated")
            att, inf = ref_drdid.drdid_panel(y1, y0, D, X, w)
            sub = dgp[dgp.period.isin([t, pret])]
            meta = sub[sub.period == pret].set_index("id")
            Gv = meta["G"]
            keep_ids = meta.index[(Gv == g) | (Gv == 0)]
            inf_full = np.zeros(n)
            idx = np.array([pos[u] for u in keep_ids])
            inf_full[idx] = inf * (n / len(idx))
            cells.append({"g": g, "t": t, "att": att, "inf": inf_full})
    pg = {g: float(np.mean(w_u * (g_u == g))) for g in (3.0, 4.0)}
    return {"cells": cells, "pg": pg, "w_u": w_u, "g_u": g_u, "n": n}


def _wif_np(keepers, w_u, g_u):
    P = sum(k["pg"] for k in keepers)
    if1 = np.column_stack([
        (w_u * (g_u == k["g"]) - k["pg"]) / P for k in keepers
    ])
    if2_inner = np.sum(
        np.column_stack([w_u * (g_u == k["g"]) - k["pg"] for k in keepers]), axis=1
    )
    mult = np.array([k["pg"] for k in keepers]) / P**2
    if2 = np.outer(if2_inner, mult)
    return if1 - if2


def _se(inf, n):
    return float(np.sqrt(np.mean(inf**2) / n))


def test_simple_parity(fitted, numpy_cells):
    nc = numpy_cells
    keep = [dict(c, pg=nc["pg"][c["g"]]) for c in nc["cells"] if c["g"] <= c["t"]]
    tot = sum(k["pg"] for k in keep)
    att_np = sum(k["att"] * k["pg"] for k in keep) / tot
    inf_np = sum((k["pg"] / tot) * k["inf"] for k in keep)
    wif = _wif_np(keep, nc["w_u"], nc["g_u"])
    inf_np = inf_np + wif @ np.array([k["att"] for k in keep])
    out = fitted.compute_aggte("simple")
    assert out.overall_att == pytest.approx(att_np, abs=1e-8)
    assert out.overall_se == pytest.approx(_se(inf_np, nc["n"]), rel=1e-6)


def test_group_parity(fitted, numpy_cells):
    nc = numpy_cells
    out = fitted.compute_aggte("group")
    att_gs, if_gs = [], []
    for g in (3.0, 4.0):
        ks = [c for c in nc["cells"] if c["g"] == g and c["t"] >= g]
        att_g = np.mean([k["att"] for k in ks])
        inf_g = sum(k["inf"] / len(ks) for k in ks)
        att_gs.append(att_g)
        if_gs.append(inf_g)
        i = out.egt.index(g)
        assert out.att_egt[i] == pytest.approx(att_g, abs=1e-8)
        assert out.se_egt[i] == pytest.approx(_se(inf_g, nc["n"]), rel=1e-6)
    pgg = [nc["pg"][3.0], nc["pg"][4.0]]
    tot = sum(pgg)
    att_o = (att_gs[0] * pgg[0] + att_gs[1] * pgg[1]) / tot
    inf_o = (pgg[0] * if_gs[0] + pgg[1] * if_gs[1]) / tot
    wif = _wif_np(
        [{"g": 3.0, "att": att_gs[0], "pg": pgg[0]}, {"g": 4.0, "att": att_gs[1], "pg": pgg[1]}],
        nc["w_u"], nc["g_u"],
    )
    inf_o = inf_o + wif @ np.array(att_gs)
    assert out.overall_att == pytest.approx(att_o, abs=1e-8)
    assert out.overall_se == pytest.approx(_se(inf_o, nc["n"]), rel=1e-6)


def test_calendar_parity(fitted, numpy_cells):
    nc = numpy_cells
    out = fitted.compute_aggte("calendar")
    atts, infs = [], []
    for t in (3.0, 4.0):
        ks = [dict(c, pg=nc["pg"][c["g"]]) for c in nc["cells"] if c["t"] == t and c["g"] <= t]
        tot = sum(k["pg"] for k in ks)
        att_t = sum(k["att"] * k["pg"] for k in ks) / tot
        inf_t = sum((k["pg"] / tot) * k["inf"] for k in ks)
        wif = _wif_np(ks, nc["w_u"], nc["g_u"])
        inf_t = inf_t + wif @ np.array([k["att"] for k in ks])
        atts.append(att_t)
        infs.append(inf_t)
        i = out.egt.index(t)
        assert out.att_egt[i] == pytest.approx(att_t, abs=1e-8)
        assert out.se_egt[i] == pytest.approx(_se(inf_t, nc["n"]), rel=1e-6)
    assert out.overall_att == pytest.approx(np.mean(atts), abs=1e-8)
    # overall = mean of the per-period aggregates, wif terms included
    assert out.overall_se == pytest.approx(_se(np.mean(infs, axis=0), nc["n"]), rel=1e-6)


def test_dynamic_parity_and_truth(fitted, numpy_cells):
    nc = numpy_cells
    out = fitted.compute_aggte("dynamic")
    # event times: -2, -1 (pre), 0, 1 (post)
    assert out.egt == [-2.0, -1.0, 0.0, 1.0]
    post_infs = []
    for e in out.egt:
        ks = [dict(c, pg=nc["pg"][c["g"]]) for c in nc["cells"] if c["t"] - c["g"] == e]
        tot = sum(k["pg"] for k in ks)
        att_e = sum(k["att"] * k["pg"] for k in ks) / tot
        inf_e = sum((k["pg"] / tot) * k["inf"] for k in ks)
        wif = _wif_np(ks, nc["w_u"], nc["g_u"])
        inf_e = inf_e + wif @ np.array([k["att"] for k in ks])
        if e >= 0:
            post_infs.append(inf_e)
        i = out.egt.index(e)
        assert out.att_egt[i] == pytest.approx(att_e, abs=1e-8)
        assert out.se_egt[i] == pytest.approx(_se(inf_e, nc["n"]), rel=1e-6)
    # overall = mean of the post-treatment event-time aggregates
    assert out.overall_se == pytest.approx(_se(np.mean(post_infs, axis=0), nc["n"]), rel=1e-6)
    # truth: att(e) ≈ e+1 post, ≈ 0 pre; overall = mean over e>=0
    for e, a, s in zip(out.egt, out.att_egt, out.se_egt):
        truth = e + 1 if e >= 0 else 0.0
        assert abs(a - truth) < 4 * s + 0.15
    assert out.overall_att == pytest.approx(
        np.mean([a for e, a in zip(out.egt, out.att_egt) if e >= 0]), abs=1e-8
    )


def test_bootstrap_aggte(spark, dgp):
    sdf = spark.createDataFrame(dgp)
    est = ATTgt(sdf, "Y", "period", "id", "G", biters=199, seed=3,
                allow_unbalanced_panel=False)
    est.fit(est_method="reg", bstrap=True)
    out = est.compute_aggte("dynamic", bstrap=True, cband=True)
    assert all(np.isfinite(out.se_egt))
    assert out.crit_val_egt >= 1.95  # uniform band at least pointwise width
    # analytic vs bootstrap SEs should roughly agree
    out2 = est.compute_aggte("dynamic", bstrap=False)
    for s1, s2 in zip(out.se_egt, out2.se_egt):
        assert abs(s1 / s2 - 1) < 0.5


def test_na_rm(spark, dgp):
    """Degenerate cell (cohort with no controls in a period) → NaN att;
    na_rm=True drops it."""
    cut = dgp[~((dgp.G == 0) & (dgp.period >= 4))]  # controls vanish in t=4
    sdf = spark.createDataFrame(cut)
    est = ATTgt(sdf, "Y", "period", "id", "G", allow_unbalanced_panel=True)
    table = est.fit(est_method="reg")
    assert table["att"].isna().any()
    with pytest.raises(Exception, match="na_rm"):
        est.compute_aggte("simple")
    out = est.compute_aggte("simple", na_rm=True)
    assert np.isfinite(out.overall_att)


def test_dynamic_balance_e_window(spark):
    """balance_e keeps only cohorts observed >= balance_e post periods
    AND trims event times to [balance_e - (t2-t1), balance_e] (the R
    did balanced event-study window — the lower trim guards cohort
    composition; ADVICE r2)."""
    rng = np.random.default_rng(17)
    rows = []
    for i in range(240):
        g = float([0, 3, 4][i % 3])
        fe = rng.normal()
        for t in (1, 2, 3, 4, 5):
            scale = 3.0 if g == 4 else 1.0  # cohort effects differ, so the
            # balanced e=0 (cohort 3 only) is visibly different from the
            # mixed-cohort full-sample e=0
            tau = scale * (t - g + 1.0) if 0 < g <= t else 0.0
            rows.append((i, t, g, fe + 0.1 * t + tau + rng.normal(0, 0.2)))
    pdf = pd.DataFrame(rows, columns=["id", "t", "g", "y"])
    est = ATTgt(spark.createDataFrame(pdf), "y", "t", "id", "g",
                allow_unbalanced_panel=False)
    est.fit("reg")

    full = est.compute_aggte("dynamic")
    assert sorted(full.egt) == [-2.0, -1.0, 0.0, 1.0, 2.0]

    bal = est.compute_aggte("dynamic", balance_e=2)
    # only cohort 3 is observed 2 post periods; window is [2-4, 2]
    assert sorted(bal.egt) == [-1.0, 0.0, 1.0, 2.0]
    # balanced e=0 is ATT(3,3) alone — different from the mixed-cohort
    # full-sample e=0 (which averages ATT(3,3) and ATT(4,4))
    e0_full = full.att_egt[full.egt.index(0.0)]
    e0_bal = bal.att_egt[bal.egt.index(0.0)]
    att33 = float(est.fit_result.table.query("g == 3 and t == 3")["att"].iloc[0])
    assert e0_bal == pytest.approx(att33, abs=1e-9)
    assert abs(e0_full - e0_bal) > 1e-3
    est.unpersist()


def test_compute_aggte_memoized_and_invalidated_on_refit(spark):
    """Aggregations are pure functions of the fit: repeat calls with the
    same arguments return the memoized result (no re-run of the IF
    aggregation passes); a refit invalidates the memo."""
    pdf = make_panel_dgp(n_units=120, periods=(1, 2, 3, 4), cohorts=(0, 3, 4), seed=3)
    est = ATTgt(spark.createDataFrame(pdf), "Y", "period", "id", "G",
                allow_unbalanced_panel=False)
    est.fit(est_method="reg")
    a = est.compute_aggte("dynamic")
    b = est.compute_aggte("dynamic")
    assert a is b  # memo hit
    c = est.compute_aggte("dynamic", balance_e=1)
    assert c is not a  # distinct args → distinct entry
    est.fit(est_method="reg")
    d = est.compute_aggte("dynamic")
    assert d is not a  # refit invalidates
    assert abs(d.overall_att - a.overall_att) < 1e-12  # same fit → same numbers

# Slow tier: deselected by the default `-m "not slow"` (pytest.ini) so the
# driver's time-budgeted gate runs the fast product surfaces; run everything
# with `python -m pytest tests/ -m "slow or not slow"` (round-close practice).
import pytest as _pytest_tier  # noqa: E402

pytestmark = _pytest_tier.mark.slow
