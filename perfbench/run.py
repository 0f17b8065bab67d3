"""schematic_spark benchmark: one workload per run, one JSON result line.

    python3 perfbench/run.py --workload suite_mostly_valid --seed 1 \\
        --seconds 6 --trace 0

A run starts a fresh ``local[cpus]`` JVM, writes its seeded inputs, runs
one cold pass of the workload's operations, then the workload's fixed
number of warm passes (``warm_passes``). The count does not follow the
clock, since a faster commit would then get more passes and so a lower
minimum; ``--seconds`` is recorded but does not change it.
Warm times are each operation's fastest warm time, and ``warm_s`` is
their sum: noise on a shared host only ever adds time, and a burst of it
then spoils one operation's sample, not the whole pass. Every operation's
output is checked after the passes. The last stdout line holds
``correct``, ``attempted``, ``failed`` and the metrics: the end-to-end
ones with ``--trace 0``, the per-layer ones with ``--trace 1``. The line
before it, prefixed ``perfbench-detail``, holds everything else, every
leaf's cold and warm time included; ``--out FILE`` also writes it with the
spans of a traced run. The load is a closed loop with one client: one call
at a time.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import traceback
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

from harness import (  # noqa: E402
    ROOT, Tracer, geomean, host_facts, jvm_peak_rss_mb, median,
    start_session, tree_cpu_s,
)

WORKLOADS = ("suite_mostly_valid", "checkpoint_invalid_heavy",
             "leaves_sf0.001")
#: no warm pass starts that would likely end a run past this many seconds,
#: so that a much slower commit, or ``--leaves all``, still ends in time
MAX_RUN_S = 150


def bench_units(kind: str) -> dict:
    """name -> unit of the ``end_to_end`` or ``per_layer`` metrics that
    BENCHMARK.json lists, in its order."""
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    return {m["name"]: m["unit"] for m in bench[kind]}


def make_workload(name, spark, work, seed, leaf_set):
    import leaves
    import workloads

    if name == "suite_mostly_valid":
        return workloads.SuiteMostlyValid(spark, work, seed)
    if name == "checkpoint_invalid_heavy":
        return workloads.CheckpointInvalidHeavy(spark, work, seed)
    names = list(leaves.FAMILY) if leaf_set == "all" else leaves.SAMPLE
    return workloads.Leaves(spark, work, names)


def run_pass(wl, tracer, label: str) -> dict:
    """One pass of the workload's operations; a failing operation is
    recorded and the pass goes on."""
    times, outputs, errors = {}, [], {}
    with tracer.span(f"pass.{label}"):
        cpu0 = tree_cpu_s()
        t0 = time.perf_counter()
        for name, fn in wl.ops(label):
            with tracer.span(name):
                t = time.perf_counter()
                try:
                    out = fn()
                except Exception as e:  # counted, printed, not fatal
                    out = None
                    errors[name] = f"{type(e).__name__}: {e}"
                    print(f"perfbench: {label} {name} raised "
                          f"{traceback.format_exc()}", file=sys.stderr)
                times[name] = time.perf_counter() - t
            outputs.append((name, out))
        total = time.perf_counter() - t0
        cpu = tree_cpu_s() - cpu0
    wl.pass_layers(tracer, label, [o for _, o in outputs])
    return {"label": label, "total": total, "cpu": cpu, "times": times,
            "outputs": outputs, "errors": errors}


def check_passes(wl, tracer, passes) -> tuple[int, int, list[str]]:
    """(attempted, failed, errors) over every operation of every pass,
    the reference computation counted as one more operation. Without a
    reference, no output can be checked."""
    attempted = 1 + sum(len(p["outputs"]) for p in passes)
    errors = []
    try:
        wl.reference(tracer)
    except Exception as e:
        traceback.print_exc()
        errors.append(f"reference: {type(e).__name__}: {e}")
    checkable = not errors
    failed = len(errors)
    for p in passes:
        for name, out in p["outputs"]:
            err = p["errors"].get(name)
            if err is None and checkable:
                try:
                    err = wl.check(name, out)
                except Exception as e:  # a malformed output
                    err = f"check raised {type(e).__name__}: {e}"
            if err is not None:
                failed += 1
                errors.append(f"{p['label']} {name}: {err}")
    return attempted, failed, errors


def end_to_end(wl, setup_s, passes) -> tuple[dict, dict]:
    cold, warm = passes[0], passes[1:]
    op_warm = {n: min(p["times"][n] for p in warm) for n in cold["times"]}
    warm_s = sum(op_warm.values())
    metrics = {
        "setup_s": setup_s,
        "cold_s": cold["total"],
        "warm_s": warm_s,
        "items_per_s": wl.items / warm_s,
        "op_geomean_s": geomean(list(op_warm.values())),
    }
    return metrics, op_warm


def per_layer(wl, tracer, spark, session_s, passes, op_warm) -> dict:
    from leaves import FAMILY

    spans = {s["name"]: s for s in tracer.spans}  # last span of a name
    cold = spans["pass.cold"]
    warm = [s for s in tracer.spans if s["name"].startswith("pass.warm")]
    out = {
        "session.start_s": session_s,
        "session.jvm_peak_rss_mb": jvm_peak_rss_mb(spark),
    }
    for k in ("analysis_ms", "optimization_ms", "planning_ms",
              "codegen_compiles", "codegen_ms"):
        out[f"spark.{k}"] = cold[k]
    for k in ("task_s", "shuffle_read_bytes", "shuffle_write_bytes",
              "spill_bytes", "task_skew_max"):
        out[f"spark.{k}"] = median([s[k] for s in warm])
    layers = dict(wl.layers)
    for key in ("fused", "checkpoint"):  # per pass; warm passes only
        rows = layers.pop(key, [])[1:]
        for k in (rows[0] if rows else {}):
            out[k] = median([r[k] for r in rows])
    if "checkpoint.bytes" in out:
        n_viol = sum(v for _, v in wl.ref.values())
        out["checkpoint.bytes_per_violation"] = \
            out.pop("checkpoint.bytes") / max(n_viol, 1)
        for op in ("run", "resume", "read"):
            out[f"checkpoint.{op}_s"] = op_warm[f"checkpoint.{op}"]
    out.update(layers)
    cold_times = passes[0]["times"]
    for name, t in cold_times.items():
        if name.startswith("leaf."):
            fam = FAMILY[name.removeprefix("leaf.")]
            for regime, v in (("cold_s", t), ("warm_s", op_warm[name])):
                key = f"leaves.{fam}.{regime}"
                out[key] = out.get(key, 0.0) + v
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--leaves", choices=("sample", "all"), default="sample",
                    help="leaves_sf0.001 only: the family sample the "
                         "benchmark runs, or all 77 leaves")
    ap.add_argument("--out", help="also write the detail and spans here")
    args = ap.parse_args(argv)
    t_start = time.perf_counter()

    missing = [p for p in ("schematic_spark/__init__.py",
                           "__spark_entry__.py") if not (ROOT / p).is_file()]
    if missing:
        print(f"perfbench: the program is not in {ROOT}: missing "
              f"{', '.join(missing)}", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    facts = host_facts()
    work = ROOT / ".perfbench_work" / f"{args.workload}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    spark = None
    try:
        t = time.perf_counter()
        spark = start_session(work, facts)
        session_s = time.perf_counter() - t
        tracer = Tracer(spark if args.trace else None)
        wl = make_workload(args.workload, spark, work, args.seed,
                           args.leaves)
        writes = wl.setup(tracer)
        setup_s = session_s + sum(writes)

        passes = [run_pass(wl, tracer, "cold")]
        while len(passes) <= wl.warm_passes:
            last = passes[-1]["total"]
            if len(passes) > 1 and \
                    time.perf_counter() - t_start + last > MAX_RUN_S:
                break
            passes.append(run_pass(wl, tracer, f"warm{len(passes)}"))

        attempted, failed, errors = check_passes(wl, tracer, passes)
        for e in errors:
            print(f"perfbench: FAILED {e}", file=sys.stderr)

        e2e, op_warm = end_to_end(wl, setup_s, passes)
        detail = {
            "workload": args.workload, "seed": args.seed,
            "seconds": args.seconds, "trace": args.trace,
            "host": facts, "spark_version": spark.version,
            "inputs": {"items": wl.items,
                       "bytes": wl.layers.get("generator.bytes", 0)},
            "session_s": session_s, "setup_writes_s": writes,
            "pass_totals_s": [p["total"] for p in passes],
            "pass_cpu_s": [p["cpu"] for p in passes],
            "op_cold_s": passes[0]["times"], "op_warm_s": op_warm,
            "end_to_end": e2e, "errors": errors,
        }
        if args.trace:
            units = bench_units("per_layer")
            layers = per_layer(wl, tracer, spark, session_s, passes,
                               op_warm)
            metrics = {k: layers.get(k, 0.0) for k in units}
            detail["per_layer"] = metrics
            detail["n_spans"] = len(tracer.spans)
        else:
            units = bench_units("end_to_end")
            metrics = e2e
        tracer.close(spark)
    finally:
        if spark is not None:
            _stop(spark)
        shutil.rmtree(work, ignore_errors=True)
        if not any(work.parent.iterdir()):
            work.parent.rmdir()

    print("perfbench-detail " + json.dumps(detail))
    if args.out:
        Path(args.out).write_text(json.dumps(
            {**detail, "spans": tracer.spans}, indent=1) + "\n")
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": float(metrics[k]), "unit": units[k]}
                    for k in units},
    }))
    return 0


def _stop(spark):
    """Stop the session, then the JVM it runs in, and wait for it."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


if __name__ == "__main__":
    sys.exit(main())
