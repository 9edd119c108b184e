"""Benchmark entry point.

    python3 perfbench/run.py --workload crawl-unique --seed 1 --seconds 10 --trace 0

Run from the root of a checkout of the repository. Builds the workload's
inputs from --seed, measures, checks the program's outputs, and prints one
JSON object as the last line of stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are BENCHMARK.json's end_to_end metrics; with
--trace 1 its per_layer metrics. A per-layer metric of a layer the
workload does not reach is reported as 0. The run's audit record (host
noise, Spark settings, per-pass samples, spans) goes to stderr and to
.bench_results/ in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
import traceback


def _parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def result_metrics(declared: list[dict], measured: dict[str, tuple[float, str]], per_layer: bool) -> dict:
    """{name: {"value", "unit"}} for every declared metric, in declared
    order. A per-layer metric the workload did not measure is 0 (it does
    not reach that layer); a missing end-to-end metric, a unit that
    differs from the declaration, or an undeclared metric is an error."""
    left = dict(measured)
    out = {}
    for m in declared:
        name, unit = m["name"], m["unit"]
        if name in left:
            value, got_unit = left.pop(name)
            if got_unit != unit:
                raise RuntimeError(f"metric {name}: measured in {got_unit}, declared in {unit}")
        elif per_layer:
            value = 0.0
        else:
            raise RuntimeError(f"end-to-end metric {name} was not measured")
        out[name] = {"value": value, "unit": unit}
    if left:
        raise RuntimeError(f"undeclared metrics: {sorted(left)}")
    return out


def main(argv=None) -> int:
    args = _parse(argv)
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "quarrycore_spark", "__init__.py")):
        print(f"perfbench: no quarrycore_spark package under {root}; run from the root of a checkout", file=sys.stderr)
        return 2
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    sys.path.insert(0, root)
    from perfbench import harness, workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; have {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    declared = spec["per_layer"] if args.trace else spec["end_to_end"]

    work = harness.Work(root, args.workload)
    oc = workloads.Outcome()
    audit = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds, "trace": args.trace,
             "cores": harness.cores(), "load1_start": harness.load1(), "mem_available_mb": harness.mem_available_mb()}
    steal0, t0 = harness.cpu_steal_s(), time.time()
    try:
        with harness.RssSampler() as rss:
            workloads.WORKLOADS[args.workload](args.workload, args.seed, args.seconds, bool(args.trace), work, oc)
        audit["rss_mb_at_peak"] = rss.at_peak
        if not args.trace:
            oc.put("peak_rss_mb", rss.peak_mb, "MB")
    finally:
        from pyspark.sql import SparkSession

        spark = SparkSession.getActiveSession()
        if spark is not None:
            harness.stop_spark(spark)
        work.close()
        # the program's session helper ships itself as a zip under /tmp
        zip_path = f"/tmp/quarrycore_spark_{os.getpid()}.zip"
        if os.path.exists(zip_path):
            os.remove(zip_path)
    audit.update(steal_s=round(harness.cpu_steal_s() - steal0, 2), load1_end=harness.load1(), run_wall_s=round(time.time() - t0, 2))
    trace = oc.detail.pop("trace", None)
    audit.update(oc.detail)

    if args.trace:  # the untraced passes' end-to-end values go to the audit record
        e2e = {m["name"] for m in spec["end_to_end"]}
        audit["end_to_end"] = {k: oc.metrics.pop(k)[0] for k in list(oc.metrics) if k in e2e}
    metrics = result_metrics(declared, oc.metrics, per_layer=bool(args.trace))

    results = os.path.join(root, ".bench_results")
    os.makedirs(results, exist_ok=True)
    stem = os.path.join(results, f"{args.workload}-seed{args.seed}-trace{args.trace}")
    record = {"audit": audit, "problems": oc.problems, "metrics": metrics}
    if trace is not None:
        trace.dump(stem + "-spans.json", {"audit": audit})
    with open(stem + ".json", "w") as f:
        json.dump(record, f, indent=1)
    for p in oc.problems:
        print(f"perfbench: CHECK FAILED: {p}", file=sys.stderr)
    print("perfbench audit: " + json.dumps(audit), file=sys.stderr)
    correct = not oc.problems and oc.failed == 0
    print(json.dumps({"correct": correct, "attempted": oc.attempted, "failed": oc.failed, "metrics": metrics}))
    sys.stdout.flush()
    return 0


if __name__ == "__main__":
    try:
        sys.exit(main())
    except Exception:  # noqa: BLE001 — report, never print a result
        traceback.print_exc()
        sys.exit(1)
