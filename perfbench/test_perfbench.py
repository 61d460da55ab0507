"""Tests of the benchmark itself: ``python -m pytest perfbench -q``.

The smoke runs start their own Spark session in a subprocess, so the
module takes a few minutes.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pandas as pd

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import gen  # noqa: E402
import run  # noqa: E402


def test_panel_is_deterministic_per_seed():
    a, b, c = gen.panel(7, 500), gen.panel(7, 500), gen.panel(8, 500)
    pd.testing.assert_frame_equal(a, b)
    assert not a["Y"].equals(c["Y"])
    assert len(a) == 500 * len(gen.PERIODS)
    assert set(a["G"]) == set(map(float, gen.COHORTS))


def test_star_is_deterministic_per_seed():
    a, b, c = gen.star(7, 0.001), gen.star(7, 0.001), gen.star(8, 0.001)
    assert a.keys() == b.keys()
    assert all(a[t].equals(b[t]) for t in a)
    assert not a["lineitem"].equals(c["lineitem"])


def run_bench(workload: str, trace: int) -> tuple[dict, dict]:
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "3", "--seconds", "1", "--trace", str(trace), "--smoke"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    record = json.loads(proc.stderr.strip().splitlines()[-1])
    return result, record


def test_did_smoke_traced_spans_cover_the_op():
    result, record = run_bench("did_panel_dr_boot", trace=1)
    m = {k: v["value"] for k, v in result["metrics"].items()}
    assert result["correct"] and result["failed"] == 0, record["failures"]
    assert m["failed_ops_frac"] == 0
    # the did spans' self times sum to within 10% of the op's wall time
    assert m["trace.unattributed_frac"] < 0.10
    for span in ("did.preprocess", "did.kernels", "did.linalg.irls", "did.attgt.fit",
                 "did.mboot", "did.aggte"):
        assert m[f"{span}.calls"] >= 1 and m[f"{span}.jobs"] >= 1, span
    assert m["did.mboot.draw_cells"] > 0 and m["did.linalg.irls.passes"] > 0


def test_query_mix_smoke_is_correct():
    result, record = run_bench("query_mix_sf01", trace=0)
    assert result["correct"] and result["failed"] == 0, record["failures"]
    assert result["attempted"] == (1 + run.WARMUP_PASSES + run.MIN_STEADY_PASSES) * len(run.MIX)
    assert all(v["value"] > 0 for v in result["metrics"].values())
