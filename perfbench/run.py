"""Benchmark command: one workload, one closed-loop client, one JSON line.

    python3 perfbench/run.py --workload did_panel_dr_boot --seed 1 --seconds 8 --trace 0

Run it from the repository root. It starts a ``local[nproc]`` session
through ``csdid_pyspark_spark.session.get_spark``, generates the
workload's inputs from ``--seed``, runs one cold unit of work (and, on
the mix, unmeasured warm-up passes), then runs ops back to back until
``--seconds`` have been measured (at least MIN_STEADY_OPS ops or
MIN_STEADY_PASSES passes), checks every output, and prints
``{"correct", "attempted", "failed", "metrics"}`` as the last line of
stdout. ``--trace 0`` reports the end-to-end metrics; ``--trace 1``
records spans around the program's layer entry points and reports the
per-layer metrics instead. A run record (host, versions, load, seed,
failures) goes to stderr and, with the per-op spans of a traced run, to
``.bench_out/``. Scratch files live under ``.bench_work/`` and are
removed on exit.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import statistics
import sys
import time
from dataclasses import dataclass, field

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

WORKLOADS = ("did_panel_dr_boot", "query_mix_sf01")
SETUP_REPS = 3
# Steady work is measured in whole ops (did) or passes (mix), at least
# these many and then until --seconds have passed, so that the amount of
# work in a run does not flip with small timing changes. The mix runs
# WARMUP_PASSES unmeasured passes between the cold pass and the steady
# ones: its first passes after the cold one are still up to 1.5x slower
# (JIT and codegen warming), a did op is long enough not to need it.
MIN_STEADY_OPS = 1
WARMUP_PASSES = 2
MIN_STEADY_PASSES = 5

# Full sizes, and the --smoke sizes the benchmark's tests use.
PANEL_UNITS = {"full": 4_000, "smoke": 600}
MIX_SF = {"full": 0.1, "smoke": 0.001}
# The queries the mix drives; README.md says why these and not more.
MIX = ("q1_pricing_summary", "window_topk_per_group", "events_sessionize", "text_stats")

SPANS = (
    "did.preprocess", "did.kernels", "did.linalg.irls", "did.attgt.fit", "did.mboot",
    "did.aggte", "queries.call", "sink.noop_write",
)
COUNTERS = ("did.linalg.irls.passes", "did.kernels.skipped_cells", "did.mboot.draw_cells")


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--smoke", action="store_true", help="tiny inputs, for tests")
    return p.parse_args(argv)


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def prepare_env(work: str) -> None:
    """Everything Spark and Python write goes under ``work``; the package
    is put on the Python workers' path (mboot's mapInPandas closure
    imports it); the console progress bar is off so stdout stays
    parseable. Must run before the JVM starts."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    # -XX:-UsePerfData: the JVM would otherwise write /tmp/hsperfdata_<user>
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.ui.showConsoleProgress=false "
        f'--driver-java-options "-Djava.io.tmpdir={tmp} -XX:-UsePerfData" pyspark-shell'
    )


def median_per_name(names: list[str], walls: list[float]) -> dict[str, float]:
    per: dict[str, list[float]] = {}
    for n, w in zip(names, walls):
        per.setdefault(n, []).append(w)
    return {n: statistics.median(w) for n, w in per.items()}


def quantile(values: list[float], q: float) -> float:
    """Nearest-rank quantile."""
    s = sorted(values)
    return s[min(len(s) - 1, max(0, int(q * len(s) + 0.5) - 1))]


def peak_rss_mb() -> float:
    return resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0


@dataclass
class Outcome:
    rows: int  # input rows of one op
    cold_s: float
    op_walls: list[float]  # steady ops
    op_names: list[str]  # what each steady op ran
    failures: list[str | None]  # every op, cold and warm-up ones included
    rss_mb: float
    n_unmeasured: int  # ops before the steady ones: cold unit and warm-up
    persisted: list[int] = field(default_factory=list)  # RDDs left after each steady op
    record: dict = field(default_factory=dict)


class Bench:
    def __init__(self, args, work: str):
        self.args = args
        self.work = work
        self.size = "smoke" if args.smoke else "full"
        self.spark = None
        self.rec = None  # spans.Recorder in a traced run
        self.session_start_s: list[float] = []
        self.gen_s: list[float] = []
        self.setup_s: list[float] = []

    def setup(self, wl) -> int:
        """Start the session and generate inputs, SETUP_REPS times (the
        first start launches the JVM; later ones restart the context)."""
        from csdid_pyspark_spark.session import get_spark

        rows = 0
        for _ in range(SETUP_REPS):
            t0 = time.perf_counter()
            if self.spark is not None:
                self.spark.stop()
            self.spark = get_spark("perfbench", cpus=nproc())
            self.spark.sparkContext.setLogLevel("ERROR")
            t1 = time.perf_counter()
            rows = wl.generate(self.spark, self.work)
            t2 = time.perf_counter()
            self.session_start_s.append(t1 - t0)
            self.gen_s.append(t2 - t1)
            self.setup_s.append(t2 - t0)
        if self.args.trace:
            self.install_tracing()
        return rows

    def install_tracing(self) -> None:
        import spans
        from csdid_pyspark_spark.did import aggte_ops, attgt, kernels, linalg

        rec = spans.Recorder(self.spark)

        def kernel_result(out):
            rec.counters["did.kernels.skipped_cells"] += sum(1 for e in out[0] if e.skipped)

        def mboot_result(out):
            rec.counters["did.mboot.draw_cells"] += out.bres.size

        rec.wrap(attgt, "preprocess_did", "did.preprocess")
        rec.wrap(attgt, "estimate_panel", "did.kernels", kernel_result)
        rec.wrap(attgt, "estimate_rc", "did.kernels", kernel_result)
        rec.wrap(kernels, "irls_logit", "did.linalg.irls")
        rec.count_calls(linalg, "consts_df", "did.linalg.irls.passes", inside="did.linalg.irls")
        rec.wrap(attgt, "mboot", "did.mboot", mboot_result)
        rec.wrap(aggte_ops, "mboot", "did.mboot", mboot_result)
        rec.wrap(aggte_ops, "compute_aggte", "did.aggte")
        rec.wrap(attgt.ATTgt, "fit", "did.attgt.fit")
        self.rec = rec

    def persisted(self) -> int:
        return int(self.spark.sparkContext._jsc.getPersistentRDDs().size())

    def timed(self, steps) -> tuple[float, str | None]:
        """Run ``steps`` — ``(span name or None, callable)`` pairs — as one
        op, inside an ``op`` span when tracing. Returns wall time and error."""
        err = None
        t0 = time.perf_counter()
        try:
            if self.rec is None:
                for _, fn in steps:
                    fn()
            else:
                with self.rec.span("op"):
                    for name, fn in steps:
                        if name is None:
                            fn()
                        else:
                            with self.rec.span(name):
                                fn()
        except Exception as exc:  # an op that raises counts as failed
            err = f"{type(exc).__name__}: {exc}"
        wall = time.perf_counter() - t0
        if self.rec is not None:
            self.rec.end_op()
        return wall, err

    # -- the workloads -----------------------------------------------------
    def run_did(self) -> Outcome:
        from workloads import DidPanelDrBoot

        wl = DidPanelDrBoot(self.args.seed, PANEL_UNITS[self.size])
        rows = self.setup(wl)
        outputs, errors, walls, left = [], [], [], []

        def one_op():
            box = []
            wall, err = self.timed([(None, lambda: box.append(wl.op()))])
            outputs.append(box[0] if box else None)
            errors.append(err)
            walls.append(wall)
            left.append(self.persisted())

        one_op()
        t_start = time.perf_counter()
        while len(walls) <= MIN_STEADY_OPS or time.perf_counter() - t_start < self.args.seconds:
            one_op()
        rss = peak_rss_mb()
        t_check = time.perf_counter()
        done = [o for o in outputs if o is not None]
        verdicts = iter(wl.check(done) if done else [])
        failures = [err or next(verdicts) for err in errors]
        steady = walls[1:]
        out = Outcome(rows, walls[0], steady, ["op"] * len(steady), failures, rss, 1, left[1:])
        out.record["check_s"] = time.perf_counter() - t_check
        return out

    def run_mix(self) -> Outcome:
        from csdid_pyspark_spark.cache import release_cache
        from workloads import QueryMix

        wl = QueryMix(self.args.seed, MIX_SF[self.size], list(MIX))
        rows = self.setup(wl)
        spark = self.spark
        names, walls, errors, left = [], [], [], []

        def one_op(name) -> float:
            box = []
            wall, err = self.timed(
                [
                    ("queries.call", lambda: box.append(wl.call(spark, name))),
                    ("sink.noop_write", lambda: wl.write(box[0])),
                ]
            )
            if box:
                release_cache(box[0])
            names.append(name)
            walls.append(wall)
            errors.append(err and f"{name}: {err}")
            left.append(self.persisted())
            return wall

        passes = wl.passes()
        cold_s = sum(one_op(n) for n in next(passes))
        n_cold = len(walls)
        for _ in range(WARMUP_PASSES):
            for n in next(passes):
                one_op(n)
        n_unmeasured = len(walls)
        t_start = time.perf_counter()
        n_passes = 0
        while n_passes < MIN_STEADY_PASSES or time.perf_counter() - t_start < self.args.seconds:
            for n in next(passes):
                one_op(n)
            n_passes += 1
        rss = peak_rss_mb()
        t_check = time.perf_counter()
        verdicts = wl.check(spark, names)
        check_s = time.perf_counter() - t_check
        failures = [e or v for e, v in zip(errors, verdicts)]
        k = n_unmeasured
        out = Outcome(rows, cold_s, walls[k:], names[k:], failures, rss, k, left[k:])
        out.record["query_s"] = median_per_name(names[k:], walls[k:])
        out.record["cold_query_s"] = dict(zip(names[:n_cold], walls[:n_cold]))
        out.record["check_s"] = check_s
        out.record["steady_ops"] = list(zip(names[k:], walls[k:]))
        return out

    # -- metrics -----------------------------------------------------------
    def end_to_end(self, o: Outcome) -> dict[str, float]:
        # Per-query medians: a median unit of work is one op (did) or one
        # pass of the mix with each query at its median steady wall. The
        # median over all mix ops would sit between two queries' groups of
        # walls, i.e. on the slowest of one group and the fastest of the
        # next.
        medians = median_per_name(o.op_names, o.op_walls)
        per_s = len(medians) / sum(medians.values())
        return {
            "setup_s": statistics.median(self.setup_s),
            "cold_s": o.cold_s,
            "op_s_p50": statistics.median(medians.values()),
            "panel_rows_per_s": o.rows * per_s,
            "queries_per_s": per_s,
            "driver_rss_peak_mb": o.rss_mb,
        }

    def per_layer(self, o: Outcome) -> dict[str, float]:
        import spans

        steady = self.rec.ops[o.n_unmeasured:]
        out = {f"{s}.{m}": 0.0 for s in SPANS for m in spans.SPAN_METRICS}
        out.update(dict.fromkeys(COUNTERS, 0.0))
        for key in out:
            out[key] = sum(op.get(key, 0.0) for op in steady) / len(steady)
        unattributed = [op["op.self_s"] / op["op.wall_s"] for op in steady]
        out.update(
            {
                "cache.persisted_rdds_after_op": float(max(o.persisted)),
                "cache.storage_mb_peak": self.rec.storage_mb_peak,
                "spark.failed_tasks": float(self.rec.failed_tasks),
                "session.start_s": self.session_start_s[0],
                "workload.gen_s": statistics.median(self.gen_s),
                "failed_ops_frac": sum(1 for f in o.failures if f) / len(o.failures),
                "trace.op_s_p50": statistics.median(
                    median_per_name(o.op_names, o.op_walls).values()
                ),
                "trace.unattributed_frac": statistics.median(unattributed),
            }
        )
        qs = o.record.get("query_s", {})
        for name in MIX:
            out[f"query.{name}.s"] = qs.get(name, 0.0)
        return out


UNITS = {
    "setup_s": "s", "cold_s": "s", "op_s_p50": "s",
    "panel_rows_per_s": "rows/s", "queries_per_s": "1/s", "driver_rss_peak_mb": "MB",
    "failed_ops_frac": "ratio", "trace.op_s_p50": "s", "cache.storage_mb_peak": "MB",
}


def unit_of(name: str) -> str:
    if name in UNITS:
        return UNITS[name]
    last = name.rsplit(".", 1)[-1]
    if last.endswith("_s") or last == "s":
        return "s"
    if last.endswith("_mb"):
        return "MB"
    if last in ("core_util", "unattributed_frac"):
        return "ratio"
    return "count"


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it to exit
    (it exits when its stdin closes)."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def calib_ms() -> float:
    """Median time of a fixed NumPy matmul loop: a record of how fast the
    host ran around this run, for reading its metrics; never a gate."""
    import numpy as np

    a = np.random.default_rng(0).standard_normal((200, 200))
    times = []
    for _ in range(5):
        t0 = time.perf_counter()
        for _ in range(10):
            a @ a
        times.append(time.perf_counter() - t0)
    return statistics.median(times) * 1e3


def steal_s() -> float:
    """CPU time the hypervisor gave to other guests since boot (all CPUs)."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def host_record(args, spark, load_before, steal_before, calib_before) -> dict:
    import numpy
    import pyspark

    return {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "smoke": args.smoke,
        "nproc": nproc(),
        "cpus": spark.sparkContext.defaultParallelism,
        "pyspark": pyspark.__version__,
        "numpy": numpy.__version__,
        "python": sys.version.split()[0],
        "load_before": load_before,
        "load_after": list(os.getloadavg()),
        "steal_s": steal_s() - steal_before,
        "calib_ms_before": calib_before,
        "calib_ms_after": calib_ms(),
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    load_before = list(os.getloadavg())
    steal_before = steal_s()
    calib_before = calib_ms()
    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    prepare_env(work)
    os.chdir(work)  # stray files (derby, warehouse) land in the scratch dir
    bench = Bench(args, work)
    try:
        run = bench.run_did if args.workload == "did_panel_dr_boot" else bench.run_mix
        outcome = run()
        metrics = bench.per_layer(outcome) if args.trace else bench.end_to_end(outcome)
        record = host_record(args, bench.spark, load_before, steal_before, calib_before)
        record.update(outcome.record)
        record["setup_runs_s"] = bench.setup_s
        p90 = quantile(outcome.op_walls, 0.9)
        record.update(
            samples=len(outcome.op_walls),
            op_s_p90=p90,
            samples_beyond_p90=sum(1 for w in outcome.op_walls if w > p90),
            failures=[f for f in outcome.failures if f],
            metrics=metrics,
        )
        if bench.rec is not None:
            record["spans_per_op"] = bench.rec.ops
    finally:
        if bench.spark is not None:
            stop_spark(bench.spark)
        os.chdir(ROOT)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:  # another run's scratch dir is still there
            pass
    out_dir = os.path.join(ROOT, ".bench_out")
    os.makedirs(out_dir, exist_ok=True)
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    with open(os.path.join(out_dir, name), "w") as f:
        json.dump(record, f, indent=1)
    record.pop("spans_per_op", None)
    print(json.dumps(record), file=sys.stderr)
    failed = len(record["failures"])
    result = {
        "correct": failed == 0,
        "attempted": len(outcome.failures),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": unit_of(k)} for k, v in metrics.items()},
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
