"""Steadiness check and smoke self-test for perfbench/run.py.

    python3 perfbench/steady.py --runs 10                # every workload
    python3 perfbench/steady.py --runs 5 --workload kg_delta --seed0 100
    python3 perfbench/steady.py --smoke                  # harness self-test

The steadiness check runs each workload --runs times (seeds seed0,
seed0+1, ...) with tracing off and prints, for every end-to-end metric,
the median, the quartiles (statistics.quantiles, n=4) and the spread
(Q3 - Q1) / median next to the metric's bound from BENCHMARK.json:
"steady" below a third of the bound, "within" below the bound, "WIDE"
otherwise (setup_s is only required to be steady in its median, so its
spread is reported but not judged). --smoke runs every workload once at
tiny size with tracing off and on, and checks the output contract.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
RUN = os.path.join(ROOT, "perfbench", "run.py")
LOGS = os.path.join(ROOT, ".bench_work", "steady-logs")
# printed by every run but not bounded: shown beside the metrics
INFO = ("wall_s", "input_rows_per_s", "host_steal_pct")


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def run_once(workload: str, seed: int, seconds: int, trace: int,
             smoke: bool = False) -> tuple[dict, dict, float]:
    """-> (the result line, the printed unbounded figures, run seconds)"""
    cmd = [sys.executable, RUN, "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace)]
    if smoke:
        cmd.append("--smoke")
    t0 = time.perf_counter()
    out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
    took = time.perf_counter() - t0
    # the run's own log (set-up parts, every pass time) for later reading
    os.makedirs(LOGS, exist_ok=True)
    with open(os.path.join(LOGS, f"{workload}-seed{seed}-trace{trace}.log"), "w") as fh:
        fh.write(out.stderr)
    if out.returncode != 0:
        sys.stderr.write(out.stderr[-4000:])
        raise SystemExit(f"{' '.join(cmd)} exited {out.returncode}")
    lines = out.stdout.strip().splitlines()
    printed = {f[1]: float(f[2]) for f in (ln.split() for ln in lines[:-1])
               if len(f) >= 4 and f[1] in INFO}
    return json.loads(lines[-1]), printed, took


def smoke(spec: dict, workloads: list[str]) -> int:
    e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    layers = {m["name"]: m["unit"] for m in spec["per_layer"]}
    problems = []
    for wl in workloads:
        for trace, want in ((0, e2e), (1, layers)):
            res, _, _ = run_once(wl, 1, 1, trace, smoke=True)
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            if set(res) != {"correct", "attempted", "failed", "metrics"}:
                problems.append(f"{wl} trace={trace}: keys {sorted(res)}")
            if got != want:
                problems.append(f"{wl} trace={trace}: metric names/units differ "
                                f"from BENCHMARK.json: {sorted(set(got) ^ set(want))}")
            if not res["correct"] or res["failed"] or res["attempted"] < 1:
                problems.append(f"{wl} trace={trace}: correct={res['correct']} "
                                f"failed={res['failed']}/{res['attempted']}")
            print(f"smoke {wl} trace={trace}: {res['failed']}/{res['attempted']} failed, "
                  f"{len(got)} metrics", flush=True)
    for p in problems:
        print("FAIL", p)
    print("smoke self-test", "FAILED" if problems else "passed")
    return 1 if problems else 0


def steadiness(spec: dict, workloads: list[str], runs: int, seed0: int) -> int:
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    units = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    wide = 0
    for wl in workloads:
        values: dict[str, list[float]] = {name: [] for name in (*bounds, *INFO)}
        failed = attempted = 0
        for i in range(runs):
            res, printed, took = run_once(wl, seed0 + i, spec["run_seconds"], 0)
            failed += res["failed"]
            attempted += res["attempted"]
            for name in bounds:
                values[name].append(res["metrics"][name]["value"])
            for name in INFO:
                values[name].append(printed[name])
            print(f"# {wl} seed {seed0 + i}: failed {res['failed']}/{res['attempted']} "
                  + " ".join(f"{k}={v[-1]:.4g}" for k, v in values.items())
                  + f" (run took {took:.0f} s)", flush=True)
        print(f"\n{wl}: {runs} runs, fail_ratio {failed}/{attempted}")
        print(f"  {'metric':18s} {'median':>12s} {'q1':>12s} {'q3':>12s} "
              f"{'spread':>8s} {'bound':>6s}")
        for name, vals in values.items():
            med = statistics.median(vals)
            q1, _, q3 = statistics.quantiles(vals, n=4)
            spread = (q3 - q1) / med
            if name not in bounds:
                print(f"  {name:18s} {med:12.4f} {q1:12.4f} {q3:12.4f} "
                      f"{spread:8.4f} {'-':>6s} {'':10s} (printed, not bounded)")
                continue
            bound = bounds[name]
            verdict = ("steady" if spread < bound / 3
                       else "within" if spread <= bound else "WIDE")
            if name == "setup_s":
                verdict = "(median only)"
            elif verdict == "WIDE":
                wide += 1
            print(f"  {name:18s} {med:12.4f} {q1:12.4f} {q3:12.4f} "
                  f"{spread:8.4f} {bound:6.2f} {units[name]:10s} {verdict}")
        print(flush=True)
    return 1 if wide else 0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--seed0", type=int, default=1)
    ap.add_argument("--workload", action="append",
                    help="workload to run (default: every workload in BENCHMARK.json)")
    ap.add_argument("--smoke", action="store_true")
    args = ap.parse_args()
    spec = load_spec()
    workloads = args.workload or [w["name"] for w in spec["workloads"]]
    if args.smoke:
        return smoke(spec, workloads)
    return steadiness(spec, workloads, args.runs, args.seed0)


if __name__ == "__main__":
    sys.exit(main())
