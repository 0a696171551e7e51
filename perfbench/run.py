"""Benchmark runner: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload ingest_drain --seed 1 --seconds 5 --trace 0

Run from the root of a checkout.  Inputs are generated from the seed
under ``.perfbench_work/``; the session is pinned to local[N], N <= nproc.
``--trace 0`` prints the end-to-end metrics, measured with spans and the
event log off; ``--trace 1`` first runs the untraced passes, then
restarts the session with the event log on and spans recorded, and
prints the per-layer metrics plus the tracing overhead.  The last line of
stdout is the result object; the lines before it name every metric with
its unit and sample count.  See NOTES.md.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import common  # noqa: E402
import metrics  # noqa: E402


class Run:
    """State of one benchmark run, shared with the workload module."""

    def __init__(self, args):
        self.args = args
        self.seed = args.seed
        self.work = common.fresh_dir(os.path.join(
            common.ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}"))
        self.out_dir = os.path.join(common.ROOT, ".perfbench_out")
        self.tracer = common.Tracer(False)
        self.spark = None
        self.inputs = None
        self.state = None
        self.attempted = 0
        self.failed = 0
        self.defects: list[str] = []
        self.layers: dict[str, float] = {}
        self.event_log_dir = None
        self.events: dict[str, dict] = {}

    def op(self, ok: bool, what: str, n: int = 1) -> None:
        """Count ``n`` operations; failed ones are a defect."""
        self.attempted += n
        if not ok:
            self.failed += n
            self.defects.append(what)

    def report(self, name: str, value, unit: str, n: int) -> None:
        shown = "n/a" if value is None else f"{value:.6g}"
        print(f"metric {name} = {shown} {unit} (n={n})", flush=True)


def timed_passes(run: Run, mod, seconds: float) -> list[dict]:
    """Closed loop: start another pass while the window is open, and at
    least the workload's MIN_PASSES, so that a slow pass cannot change how
    many passes the median is taken over."""
    passes: list[dict] = []
    t0 = time.perf_counter()
    while len(passes) < mod.MIN_PASSES or time.perf_counter() - t0 < seconds:
        passes.append(mod.one_pass(run, len(passes)))
    return passes


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=[n for n, _ in metrics.WORKLOADS])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=metrics.RUN_SECONDS)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    load_at_start = os.getloadavg()[0]

    # The package reads its layout knobs at import, so pin them first.
    # The package under test must be importable from the checkout root;
    # without it there is nothing to measure.
    import importlib

    common.pin_layout(common.N_CORES)
    mod = importlib.import_module(f"w_{args.workload}")
    run = Run(args)
    common.confine_temp(os.path.join(run.work, "tmp"))
    try:
        t0 = time.perf_counter()
        mod.make_inputs(run)
        gen_s = time.perf_counter() - t0

        # Set-up is the process's cold start: from process start through
        # the JVM launch, get_spark, the first action and the workload's
        # preparation.  Generating the inputs is excluded.
        run.spark, start_s, first_s = common.start_session()
        mod.prepare(run)
        setup_s = time.perf_counter() - T_PROCESS - gen_s
        print(f"layout {json.dumps(common.layout(run.spark, load_at_start))}", flush=True)
        run.report("input_gen_s", gen_s, "s", 1)

        t0 = time.perf_counter()
        mod.warmup(run)
        run.report("warmup_s", time.perf_counter() - t0, "s", 1)

        passes = timed_passes(run, mod, args.seconds)
        if args.trace:
            run.event_log_dir = common.fresh_dir(os.path.join(run.work, "eventlog"))
            run.spark, _, _ = common.restart_session(run.spark, event_log_dir=run.event_log_dir)
            mod.prepare(run)
            run.tracer = common.Tracer(True)
            traced = timed_passes(run, mod, args.seconds)
        mod.finish(run, passes)
        print(f"passes_s {[round(p['pass_s'], 3) for p in passes]}", flush=True)

        if not args.trace:
            values = dict(setup_s=setup_s, **mod.end_to_end(run, passes))
            run.report("setup_s", setup_s, "s", 1)
            out = {n: {"value": values[n], "unit": u} for n, u, _, _ in metrics.END_TO_END}
        else:
            run.layers.update({"session.start_s": start_s, "session.first_action_s": first_s,
                               "trace.overhead_s": common.median([p["pass_s"] for p in traced])
                               - common.median([p["pass_s"] for p in passes])})
            run.spark.stop()  # flushes the event log
            run.events = common.event_log_by_group(run.event_log_dir)
            mod.per_layer(run, traced)
            run.layers["session.peak_rss_mb"] = common.peak_rss_mb()
            run.tracer.dump(os.path.join(run.out_dir, f"spans-{args.workload}-{args.seed}.json"))
            out = {}
            for name, unit in metrics.per_layer():
                value = float(run.layers.get(name, 0.0))
                out[name] = {"value": value, "unit": unit}
            print(f"layers {json.dumps({k: v['value'] for k, v in out.items() if v['value']})}")
        for d in run.defects:
            print(f"DEFECT {d}", flush=True)
        run.report("fail_ratio", run.failed / max(1, run.attempted), "ratio", run.attempted)
        result = {"correct": run.failed == 0, "attempted": run.attempted, "failed": run.failed,
                  "metrics": out}
    finally:
        if run.spark is not None:
            try:
                run.spark.stop()
            except Exception:  # noqa: BLE001 - the JVM may already be gone
                traceback.print_exc()
            common.shutdown_jvm()
        shutil.rmtree(run.work, ignore_errors=True)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
