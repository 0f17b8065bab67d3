"""Committed traced runs and the tracing overhead.

    python3 perfbench/overhead.py [--pairs 3] [--workload W ...]

For each workload, runs ``--pairs`` pairs of one untraced and one traced
run, alternating which goes first, pair ``i`` on seed ``i + 1``. Writes
``perfbench/results/trace_<workload>.json``: the first traced run's detail,
per-layer metrics and spans, plus every run's end-to-end metrics and, per
metric, the median untraced, the median traced and their difference as a
share of the untraced median (the tracing overhead).
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent


def detail(workload, seed, seconds, trace, out=None) -> dict:
    args = [sys.executable, "perfbench/run.py", "--workload", workload,
            "--seed", str(seed), "--seconds", str(seconds),
            "--trace", str(trace)] + (["--out", str(out)] if out else [])
    proc = subprocess.run(args, cwd=ROOT, capture_output=True, text=True,
                          timeout=600)
    if proc.returncode:
        sys.stderr.write(proc.stderr[-4000:])
        raise SystemExit(f"{' '.join(args)} exited {proc.returncode}")
    line = next(x for x in proc.stdout.splitlines()
                if x.startswith("perfbench-detail "))
    return json.loads(line.split(" ", 1)[1])


def main() -> int:
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", action="append")
    ap.add_argument("--pairs", type=int, default=3)
    args = ap.parse_args()
    (HERE / "results").mkdir(exist_ok=True)
    for w in args.workload or [x["name"] for x in bench["workloads"]]:
        out = HERE / "results" / f"trace_{w}.json"
        runs = {0: [], 1: []}
        for i in range(args.pairs):
            for trace in ((0, 1) if i % 2 == 0 else (1, 0)):
                keep = out if trace and i == 0 else None
                runs[trace].append(detail(
                    w, i + 1, bench["run_seconds"], trace, keep
                )["end_to_end"])
        record = json.loads(out.read_text())
        record["untraced_end_to_end"] = runs[0]
        record["traced_end_to_end"] = runs[1]
        record["tracing_overhead"] = {}
        for k in runs[0][0]:
            plain = statistics.median(r[k] for r in runs[0])
            traced = statistics.median(r[k] for r in runs[1])
            record["tracing_overhead"][k] = {
                "untraced": plain, "traced": traced,
                "overhead": traced / plain - 1}
        out.write_text(json.dumps(record, indent=1) + "\n")
        print(f"{w}: " + ", ".join(
            f"{k} {v['overhead']:+.1%}"
            for k, v in record["tracing_overhead"].items()))
    return 0


if __name__ == "__main__":
    sys.exit(main())
