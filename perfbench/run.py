"""Run one benchmark workload and print its result as the last stdout line.

    python3 perfbench/run.py --workload serve_hot --seed 1 --seconds 8 --trace 0

Run from the root of a checkout of the repository. ``--trace 0`` prints
every end-to-end metric of BENCHMARK.json; ``--trace 1`` turns on Spark's
event log and job groups and prints every per-layer metric instead.
``--smoke`` runs a tiny corpus for the benchmark's own tests. Inputs,
provenance, failures and all metrics of the run are also written to
``.bench_work/results/``.
"""

import argparse
import json
import os
import shutil
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def metric_specs() -> dict:
    """{"end_to_end": [(name, unit)], "per_layer": [(name, unit)]}."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {k: [(m["name"], m["unit"]) for m in spec[k]]
            for k in ("end_to_end", "per_layer")}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true")
    args = ap.parse_args(argv)

    if not (os.path.isdir(os.path.join(ROOT, "yetisearch_spark"))
            and os.path.isfile(os.path.join(ROOT, "__spark_entry__.py"))):
        print(f"no yetisearch_spark checkout at {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench import box, trace, workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"unknown workload {args.workload!r}; choose from "
              f"{sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    traced = bool(args.trace)
    base = os.path.join(ROOT, ".bench_work")
    work = os.path.join(base, f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    run = None
    try:
        run = workloads.Run(ROOT, work, args.seed, args.seconds, traced,
                            args.smoke)
        workloads.WORKLOADS[args.workload](run)
        run.e2e["live_heap_mb"] = box.live_heap_mb(run.spark)
        run.layer["driver.jvm_peak_rss_mb"] = box.jvm_peak_rss_mb(run.spark)
        run.layer["driver.python_peak_rss_mb"] = box.vm_hwm_mb(os.getpid())
        prov = box.provenance(ROOT, run.spark, args.seed, args.workload,
                              traced, args.smoke)
    finally:
        if run is not None:
            box.stop_spark(run.spark)
    if traced:
        log = trace.find_event_log(os.path.join(work, "eventlog"))
        run.layer.update(trace.attribute(run.tracer.spans, log))
        metrics = {n: {"value": float(run.layer.get(n, 0.0)), "unit": u}
                   for n, u in metric_specs()["per_layer"]}
    else:
        metrics = {n: {"value": float(run.e2e[n]), "unit": u}
                   for n, u in metric_specs()["end_to_end"]}
    failed = len(run.failures)
    result = {"correct": failed == 0, "attempted": run.attempted,
              "failed": failed, "metrics": metrics}

    os.makedirs(os.path.join(base, "results"), exist_ok=True)
    record = os.path.join(
        base, "results",
        f"{args.workload}-seed{args.seed}-trace{args.trace}-{int(time.time())}.json")
    with open(record, "w") as f:
        json.dump({"provenance": prov, "inputs": run.saved_inputs,
                   "failures": run.failures, "end_to_end": run.e2e,
                   "per_layer": run.layer,
                   "spans": run.tracer.spans,
                   "result": result}, f, indent=1, default=str)
    shutil.rmtree(work, ignore_errors=True)
    for fl in run.failures[:20]:
        print(f"FAILED {fl['op']}: {fl['error']}")
    print(json.dumps({"provenance": prov}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
