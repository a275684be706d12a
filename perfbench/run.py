#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Runs one workload (``log_pipeline`` or ``queries_sf0.1``; see
perfbench/README.md) in one process against the engine in this
checkout at local[<cpus available>]:

1. set-up: session start, the seeded input build, then SETUP_REPS fresh
   set-ups (layouts in a fresh directory, one untimed warm pass that
   also checks every output);
2. passes over the workload's fixed operation list, closed loop, until
   ``--seconds`` have passed (at least MIN_PASSES);
3. the last stdout line is one JSON object with ``correct``,
   ``attempted``, ``failed`` and ``metrics``: the end-to-end metrics
   with ``--trace 0``, the per-layer metrics with ``--trace 1``.

A traced run alternates untraced and traced passes: per-layer numbers
come from the traced ones, and ``trace.overhead_s`` is the traced
pass_s minus the untraced one. It also writes the span file
``.perfbench/trace-<workload>-<seed>.json``. Every run writes
``.perfbench/result-<workload>-<seed>.json`` with the workload's own
named metrics.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import shutil
import signal
import sys
import time
import traceback

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import harness  # noqa: E402

WORKLOADS = {
    "log_pipeline": "wl_logs",
    "queries_sf0.1": "wl_queries",
}
SETUP_REPS = 3
MIN_PASSES = 3  # a median over passes needs three
DEADLINE_S = 160  # hard stop: the run must end within 180 s


def metric_units(trace: bool) -> dict:
    """Name -> unit of the metrics a run prints, as BENCHMARK.json at the
    checkout root lists them: per-layer when traced, else end-to-end."""
    with open(os.path.join(harness.ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


class Run:
    """State of one benchmark run, handed to the workload."""

    def __init__(self, spark, args, work: str):
        self.spark = spark
        self.seed = args.seed
        self.work = work
        self.trace = bool(args.trace)
        self.tracer = harness.Tracer(spark, args.workload, self.trace)
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.bad_checks: list[str] = []
        self.passes: list[dict] = []  # {"traced": bool, "slots": {name: s}}
        self.samples: list[tuple[float, bool]] = []  # (ms, traced)
        self.op_spans: list[dict] = []

    def path(self, *parts) -> str:
        return os.path.join(self.work, *parts)

    def check(self, ok: bool, what: str) -> bool:
        if not ok:
            self.bad_checks.append(what)
        return ok

    def op(self, slot: str, kind: str, fn, sample: bool = True,
           groups: list | None = None, **attrs):
        """One timed operation of the current pass; a raise counts as a
        failed operation and returns None."""
        self.attempted += 1
        try:
            out, secs, span = self.tracer.op(slot, kind, fn, groups, **attrs)
        except Exception as e:  # noqa: BLE001 - counted, not fatal
            self.failed += 1
            self.errors.append(f"{slot}: {type(e).__name__}: {str(e)[:300]}")
            return None
        cur = self.passes[-1] if self.passes else None
        if cur is not None:
            cur["slots"][slot] = cur["slots"].get(slot, 0.0) + secs
            if sample:
                self.samples.append((1e3 * secs, cur["traced"]))
            if span is not None and cur["traced"]:
                self.op_spans.append(span)
        return out

    def sample(self, ms: float) -> None:
        self.samples.append((ms, self.passes[-1]["traced"]))


def pass_s(passes: list[dict]) -> float:
    """A typical pass: the sum over the pass's operations of each
    operation's median time across passes."""
    slots: dict[str, list[float]] = {}
    for p in passes:
        for k, v in p["slots"].items():
            slots.setdefault(k, []).append(v)
    return sum(harness.median(v) for v in slots.values()) if slots else float("nan")


def per_layer(run: Run, setup: dict) -> dict:
    t = run.tracer
    ops = run.op_spans
    out = {f"setup.{k}": v for k, v in setup.items()}

    def mean(key):
        vals = [s["attrs"][key] for s in ops if key in s["attrs"]]
        return sum(vals) / len(vals) if vals else 0.0

    for key in ("jobs", "stages", "tasks", "planning_ms", "executor_run_ms",
                "executor_cpu_ms", "gc_ms", "shuffle_write_bytes",
                "python_run_ms", "python_start_ms", "python_bytes",
                "cached_rdds"):
        out[f"op.{key}"] = mean(key)
    jobs = [t.job_ms(s) for s in ops]
    out["op.job_ms"] = harness.median(jobs)
    out["op.driver_ms"] = harness.median(
        [1e3 * (s["end"] - s["start"]) - j for s, j in zip(ops, jobs)])
    out["trace.overhead_s"] = (pass_s([p for p in run.passes if p["traced"]])
                               - pass_s([p for p in run.passes if not p["traced"]]))
    return out


def _timeout(signum, frame):
    raise TimeoutError(f"run exceeded {DEADLINE_S} s")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not harness.checkout_ok():
        print(f"perfbench: no engine checkout at {harness.ROOT} "
              "(logsdb_spark/ and bench.py are missing)", file=sys.stderr)
        return 2
    signal.signal(signal.SIGALRM, _timeout)
    signal.alarm(DEADLINE_S)
    work = harness.prepare_env()
    spark = line = None
    try:
        t0 = time.perf_counter()
        spark = harness.start_spark()
        session_s = time.perf_counter() - t0
        harness.log(f"session started in {session_s:.2f} s")
        wl = importlib.import_module(WORKLOADS[args.workload])
        run = Run(spark, args, work)
        line = execute(run, wl, args, session_s)
    except Exception:  # reported, then exit 3 without a result line
        traceback.print_exc()
    finally:
        signal.alarm(0)
        if spark is not None:
            harness.stop_spark(spark)
            harness.log("spark stopped")
        shutil.rmtree(work, ignore_errors=True)
        harness.log("work directory removed")
    if line is None:
        # no result; exit without waiting on threads a failure left behind
        sys.stderr.flush()
        os._exit(3)
    print(json.dumps(line))
    return 0


def execute(run: Run, wl, args, session_s: float) -> dict:
    tracer = run.tracer
    with tracer.span("setup", "setup"):
        t0 = time.perf_counter()
        with tracer.span("inputs", "setup"):
            wl.inputs(run)
        inputs_s = time.perf_counter() - t0
        reps = []
        for rep in range(SETUP_REPS):
            with tracer.span(f"setup rep {rep}", "setup"):
                t0 = time.perf_counter()
                with tracer.span("layouts", "setup"):
                    state = wl.layouts(run, rep)
                t1 = time.perf_counter()
                with tracer.span("warm pass", "setup"):
                    wl.warm(run, state, rep)
                reps.append((t1 - t0, time.perf_counter() - t1))
            harness.hygiene(run.spark)
            if rep < SETUP_REPS - 1:
                harness.discard(*state.get("discard", ()))
            harness.log(f"set-up {rep}: layouts {reps[-1][0]:.2f} s, warm pass {reps[-1][1]:.2f} s")
    setup = {
        "session_s": session_s,
        "inputs_s": inputs_s,
        "layouts_s": harness.median([r[0] for r in reps]),
        "warm_s": harness.median([r[1] for r in reps]),
        "first_s": sum(reps[0]),
    }
    setup_s = session_s + inputs_s + harness.median([sum(r) for r in reps])

    # Warm-pass operations are set-up, not measured operations: a
    # failure there fails the output check instead.
    if run.failed:
        run.bad_checks.append(f"{run.failed} warm-pass operations failed")
    run.attempted = run.failed = 0
    deadline = time.perf_counter() + args.seconds
    p = 0
    while p < MIN_PASSES or time.perf_counter() < deadline:
        traced = run.trace and p % 2 == 1
        tracer.on = traced
        run.passes.append({"traced": traced, "slots": {}})
        with tracer.span(f"pass {p}", "pass"):
            wl.one_pass(run, state, p)
        harness.hygiene(run.spark)
        harness.log(f"pass {p} done")
        p += 1
    tracer.on = False

    untraced = [p for p in run.passes if not p["traced"]]
    samples = [ms for ms, traced in run.samples if not traced]
    e2e = {
        "setup_s": setup_s,
        "peak_rss_mb": harness.peak_rss_mb(run.spark),
        "pass_s": pass_s(untraced),
        "op_p50_ms": harness.median(samples),
        "op_tail_ms": harness.slow_quarter_mean(samples),
    }
    details = wl.report(run, state)
    layers = per_layer(run, setup) if run.trace else {}
    if run.trace:
        layers.update(wl.layers(run, state))
        tracer.finish()
        for s in tracer.spans:
            s["self_ms"] = tracer.self_ms(s) if s["end"] is not None else None
        harness.write_json(f"trace-{args.workload}-{args.seed}.json", {
            "workload": args.workload, "seed": args.seed,
            "width": harness.width(), "layers": layers,
            "spans": tracer.spans})
    correct = not run.bad_checks and run.failed == 0
    harness.write_json(f"result-{args.workload}-{args.seed}.json", {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "width": harness.width(), "passes": run.passes,
        "op_samples": samples,
        "end_to_end": e2e, "workload_metrics": details,
        "attempted": run.attempted, "failed": run.failed,
        "failed_ops_frac": run.failed / max(run.attempted, 1),
        "errors": run.errors, "failed_checks": run.bad_checks,
        "setup": setup})
    values = {**e2e, **layers}
    return {
        "correct": correct,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": values[k], "unit": u}
                    for k, u in metric_units(run.trace).items()},
    }


if __name__ == "__main__":
    sys.exit(main())
