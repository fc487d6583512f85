#!/usr/bin/env python
"""Isolated per-query timing loop (guide §1): run the named headline
queries N times each inside one warm bench-shaped session and print
per-run wall seconds. The first run of anything pays JVM JIT + parquet
footer caches; later runs are the steady-state number a plan change
should be judged on.

Usage: python scripts/profile_one.py q1_pricing_summary [more...] [--n 3]
Env: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS as bench.py.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    argv, args, n, skip = sys.argv[1:], [], 3, False
    for i, a in enumerate(argv):
        if skip:
            skip = False
        elif a.startswith("--n"):
            if "=" in a:
                n = int(a.split("=", 1)[1])
            else:  # space-separated form: consume the value token too
                n = int(argv[i + 1])
                skip = True
        else:
            args.append(a)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    from cinegraph_spark.queries import load_all
    from cinegraph_spark.session import ensure_shipped, get_spark

    spark = get_spark(app_name="cinegraph-profile")
    # UDF workers import cinegraph_spark by name; from any cwd other than
    # the repository root they only find it in the shipped zip
    ensure_shipped(spark)
    spark.sparkContext.setLogLevel("ERROR")
    specs = load_all()
    spark.read.parquet(f"{sf_dir}/region.parquet").count()

    for name in args:
        spec = specs[name]
        runs = []
        for i in range(n):
            spark.sparkContext.setJobDescription(f"{name} run {i}")
            t0 = time.perf_counter()
            cnt = spec.spark(spark, sf_dir).count()
            runs.append(time.perf_counter() - t0)
        print(
            f"{name}: "
            + " ".join(f"{t:.3f}" for t in runs)
            + f"  (min {min(runs):.3f}, rows {cnt})",
            flush=True,
        )
    spark.stop()


if __name__ == "__main__":
    main()
