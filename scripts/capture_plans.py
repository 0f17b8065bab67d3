"""Capture .explain("formatted") for declared queries into plans/<tag>/.

Usage: python scripts/capture_plans.py <out_dir> [query_substr ...] [--suffix _before]

Builds each query DataFrame (no collect — except queries whose builder
itself runs jobs) and writes the formatted physical plan to
<out_dir>/<name><suffix>.txt. Mirrors bench.py's session config so the
plans match what the bench executes; SPARK_GRAFT_CPUS defaults to the
host's CPU count.
"""
from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main():
    args = [a for a in sys.argv[1:]]
    suffix = "_before"
    if "--suffix" in args:
        i = args.index("--suffix")
        suffix = args[i + 1]
        del args[i:i + 2]
    out_dir = args[0]
    substrs = args[1:]
    os.makedirs(out_dir, exist_ok=True)

    import bench
    import __spark_entry__ as entry

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count()))
    spark = bench.build_spark(cpus)
    spark.sparkContext.setLogLevel("ERROR")

    for name, fn in entry.queries().items():
        if substrs and not any(s in name for s in substrs):
            continue
        try:
            df = fn(spark, sf_dir)
            plan = df._jdf.queryExecution().explainString(
                spark._jvm.org.apache.spark.sql.execution.ExplainMode
                .fromString("formatted")
            )
        except Exception as e:  # noqa: BLE001
            plan = f"PLAN CAPTURE FAILED: {e}"
        path = os.path.join(out_dir, f"{name}{suffix}.txt")
        with open(path, "w") as fh:
            fh.write(plan)
        print(f"wrote {path} ({plan.count('Exchange')} Exchange)")


if __name__ == "__main__":
    main()
