"""Benchmark of the encrypted lake: three workloads, end-to-end metrics
untraced, per-layer metrics from a traced run.

    python3 perfbench/run.py --workload enc_rw --seed 1 --seconds 14 --trace 0
    python3 perfbench/run.py --steady 5 --workload enc_rw --seconds 14

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``. A wrong result or a
failed op makes the run exit with code 1. ``--steady N`` runs a workload
N times, each in its own process with its own seed, then once traced, and
prints the median and quartiles of every end-to-end metric, the machine
state of each run and the tracing overhead. See perfbench/README.md.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import layers  # noqa: E402
from harness import OUT_ROOT, REPO, Run, machine_state  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

sys.path.insert(0, REPO)


def run_once(workload: str, seed: int, seconds: int, trace: bool) -> tuple[dict, int]:
    from parquet_modular_encryption_spark.sources.encrypted_native import build_jar

    # the JVM KMS client jar the native PME path loads; a no-op once built
    t_build = time.perf_counter()
    build_jar()
    build_s = time.perf_counter() - t_build
    run = Run(workload, seconds, trace)
    try:
        run.track_kms_servers()
        if trace:
            layers.instrument(run)
        wl = WORKLOADS[workload]()
        wl.setup(run, seed)
        wl.warmup(run)
        # from process start to the end of warm-up, less the one-time build
        setup_s = time.perf_counter() - T_PROCESS - build_s
        before = layers.snapshot(run) if trace else None
        out = wl.timed(run)
        after = layers.snapshot(run) if trace else None
        n_checks, check_errors = wl.checks(run)
        attempted = out.calls + n_checks
        failed = out.failed + len(check_errors)
        errors = out.errors + check_errors
        if trace:
            values = layers.layer_metrics(run, out, before, after, getattr(wl, "denied", 0))
            metrics = {k: {"value": v, "unit": layers.unit_of(k)} for k, v in values.items()}
            spans_path = os.path.join(OUT_ROOT, f"spans-{workload}-seed{seed}.json")
            run.tracer.dump(spans_path, {"workload": workload, "seed": seed, "seconds": seconds})
            print(f"spans written to {os.path.relpath(spans_path, REPO)}", file=sys.stderr)
        else:
            metrics = {
                k: {"value": v, "unit": u}
                for k, (v, u) in out.end_to_end(setup_s, attempted, failed).items()
            }
    finally:
        run.close()
    for err in errors:
        print(f"FAILED: {err}", file=sys.stderr)
    if not trace:
        n = out.ops
        print(f"op_p90_s: 90th percentile of {n} op latencies, {0.1 * n:.1f} of them beyond it")
    result = {"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}
    return result, 0 if failed == 0 else 1


def steady(workload: str, runs: int, seconds: int, first_seed: int) -> int:
    """Run the workload ``runs`` times untraced (one process and seed
    each) and once traced; print quartiles, machine state and overhead."""
    cmd = [sys.executable, os.path.abspath(__file__), "--workload", workload, "--seconds", str(seconds)]
    rows = []
    for i in range(runs + 1):
        trace = i == runs
        seed = first_seed + i
        before = machine_state()
        t = time.perf_counter()
        proc = subprocess.run(
            cmd + ["--seed", str(seed), "--trace", "1" if trace else "0"],
            capture_output=True, text=True, cwd=REPO,
        )
        wall = time.perf_counter() - t
        after = machine_state()
        if proc.returncode != 0:
            sys.stderr.write(proc.stderr[-4000:])
            print(f"run with seed {seed} failed (exit {proc.returncode})")
            return 1
        result = json.loads(proc.stdout.strip().splitlines()[-1])
        state = {
            "seed": seed,
            "trace": int(trace),
            "metrics": {k: round(v["value"], 6) for k, v in result["metrics"].items()}
            if not trace else {},
            "wall_s": round(wall, 2),
            "loadavg_1m": after["loadavg_1m"],
            "steal_ticks": after["steal_ticks"] - before["steal_ticks"],
            "mem_available_mb": round(after["mem_available_mb"]),
        }
        if trace:
            traced = result["metrics"]
        else:
            rows.append(result["metrics"])
        print(json.dumps(state), flush=True)
    print(f"\n{workload}: {runs} untraced runs")
    print(f"{'metric':30s} {'q1':>14s} {'median':>14s} {'q3':>14s} {'iqr/median':>10s}")
    for name in rows[0]:
        values = [r[name]["value"] for r in rows]
        q1, med, q3 = statistics.quantiles(values, n=4) if len(values) > 1 else values * 3
        spread = (q3 - q1) / med if med else 0.0
        print(f"{name:30s} {q1:14.6g} {med:14.6g} {q3:14.6g} {spread:10.4f}")
    untraced = statistics.median(r["pass_s"]["value"] for r in rows)
    traced_pass = traced["trace.pass_s"]["value"]
    print(
        f"tracing overhead: pass_s {traced_pass:.4f} s traced vs {untraced:.4f} s untraced "
        f"median ({traced_pass / untraced - 1:+.1%}); tracer bookkeeping "
        f"{traced['trace.bookkeeping_s']['value']:.3f} s"
    )
    print(json.dumps({"traced_per_layer": {k: v["value"] for k, v in traced.items()}}))
    return 0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=14)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--steady", type=int, default=0, metavar="N")
    args = ap.parse_args()
    if args.steady:
        return steady(args.workload, args.steady, args.seconds, args.seed)
    result, code = run_once(args.workload, args.seed, args.seconds, bool(args.trace))
    print(json.dumps(result), flush=True)
    return code


if __name__ == "__main__":
    sys.exit(main())
