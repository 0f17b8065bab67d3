"""Steadiness check: two sets of benchmark runs of the same code.

    python3 perfbench/steady.py                      # every workload, 10 x 2
    python3 perfbench/steady.py --runs 5 --workload leaves_sf0.001

Runs ``BENCHMARK.json``'s command untraced once per seed, one run at a
time (set 1 uses seeds 1..runs, set 2 seeds 101..100+runs, taken in turn so
that a slow drift in the host's speed falls on both sets), and prints for
each workload and end-to-end metric the median and quartiles of both sets,
the spread (quartile distance over median) and whether the two medians
agree: their difference, either way, is within the metric's bound of the
first. A spread must stay within the bound and counts as steady below a
third of it; ``setup_s`` is exempt from the spread test, as in the
benchmark's acceptance rule, and held only to agreement. Exits 1 if
anything is out of bounds.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def run_once(cmd, workload, seed, seconds) -> dict:
    args = [*cmd, "--workload", workload, "--seed", str(seed),
            "--seconds", str(seconds), "--trace", "0"]
    proc = subprocess.run(args, cwd=ROOT, capture_output=True, text=True,
                          timeout=600)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode or not lines:
        sys.stderr.write(proc.stderr[-4000:])
        raise SystemExit(f"{' '.join(args)} exited {proc.returncode}")
    result = json.loads(lines[-1])
    if not result["correct"]:
        print(f"  {workload} seed {seed}: {result['failed']} of "
              f"{result['attempted']} operations failed", flush=True)
    return {k: v["value"] for k, v in result["metrics"].items()}


def quartiles(values):
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3, (q3 - q1) / q2 if q2 else float("inf")


def main() -> int:
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", action="append",
                    help="repeatable; default: every workload")
    ap.add_argument("--runs", type=int, default=10)
    args = ap.parse_args()
    names = args.workload or [w["name"] for w in bench["workloads"]]
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}

    ok = True
    for w in names:
        sets = [[], []]
        for i in range(args.runs):
            for s, runs in enumerate(sets):
                seed = 100 * s + i + 1
                runs.append(run_once(bench["command"], w, seed,
                                     bench["run_seconds"]))
                print(f"  {w} set {s + 1} seed {seed}: " + ", ".join(
                    f"{k}={v:.4g}" for k, v in runs[-1].items()),
                    flush=True)
        print(f"\n{w}: median [q1, q3] spread per set")
        for m, bound in bounds.items():
            row, meds = [], []
            for runs in sets:
                q1, med, q3, spread = quartiles([r[m] for r in runs])
                meds.append(med)
                row.append(f"{med:.4g} [{q1:.4g}, {q3:.4g}] {spread:.3f}")
                if m != "setup_s" and spread > bound:
                    ok, row[-1] = False, row[-1] + " SPREAD>BOUND"
                elif m != "setup_s" and spread > bound / 3:
                    row[-1] += " (spread > bound/3)"
            diff = (meds[1] - meds[0]) / meds[0]
            agree = abs(diff) <= bound
            ok &= agree
            print(f"  {m:<14} " + " | ".join(row)
                  + f"  second vs first {diff:+.3f} "
                  + ("agree" if agree else "DISAGREE"))
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
