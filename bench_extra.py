#!/usr/bin/env python
"""Out-of-band query benchmarks for optimization work (guide §1.4).

NOT part of the driver contract — bench.py is the frozen measurement
harness. This tool times individual registry queries with the noop sink
(min over N reps), and optionally captures .explain("formatted") to a
file, so before/after evidence for OPTIMIZATION_r*.md comes from the
same methodology the frozen bench uses without paying for a full run.

Usage:
  python bench_extra.py q1 [q2 ...] [--sf DIR] [--reps N] [--explain-dir D]
                        [--cpus N]

--sf defaults to bench.py's SF_DIR ($SPARK_GRAFT_SF_DIR, else the sf0.1
tables); --cpus to the CPUs this process may run on (as `nproc`).
"""

from __future__ import annotations

import argparse
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from bench import SF_DIR  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="+")
    ap.add_argument("--sf", default=SF_DIR)
    ap.add_argument("--reps", type=int, default=2)
    ap.add_argument("--explain-dir", default=None)
    ap.add_argument("--cpus", type=int, default=len(os.sched_getaffinity(0)))
    args = ap.parse_args()

    from quarrycore_spark.plans import registry
    from quarrycore_spark.session import ensure_py_files, get_spark
    from quarrycore_spark.sources.tables import load

    spark = get_spark("qc-bench-extra", cores=args.cpus, shuffle_partitions=args.cpus)
    ensure_py_files(spark)
    load(spark, args.sf, "documents")["documents"].count()  # warm JVM/scan

    for name in args.queries:
        q = registry.REGISTRY[name]
        if args.explain_dir:
            os.makedirs(args.explain_dir, exist_ok=True)
            df = q.run_spark(spark, args.sf)
            with open(os.path.join(args.explain_dir, f"{name}.txt"), "w") as f:
                f.write(df._sc._jvm.PythonSQLUtils.explainString(
                    df._jdf.queryExecution(), "formatted"))
        walls = []
        for _ in range(args.reps):
            spark.sparkContext.setJobDescription(f"bench_extra: {name}")
            t0 = time.time()
            q.run_spark(spark, args.sf).write.format("noop").mode("overwrite").save()
            walls.append(time.time() - t0)
            spark.sparkContext.setJobDescription(None)
        print(f"{name}: min {min(walls):.3f}s  reps {[round(w, 3) for w in walls]}",
              flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
