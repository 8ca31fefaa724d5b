"""Shipper + log-table benchmark.

    python3 perfbench/run.py --workload ship_backlog|ship_live \
        --seed N --seconds S --trace 0|1

Run from the root of a checkout of the repository. A run generates its
inputs from the seed (gen.py), starts Spark as local[N] with N = half the
CPUs this process may use (harness.spark_slots), sets up once (session +
warm-up pass), runs the workload (workloads.py) -- a fixed amount of
work sized to take about S seconds on a 4-core host -- checks every
output against the generator's ground truth or a DuckDB twin over the
same parquet files, and prints a context line (host CPUs, Spark slots,
load, a single-core canary, the share of CPU time the hypervisor stole),
one line per metric (name, value, unit, sample count) and the
failed-operation ratio, then as its last line the JSON object
{"correct", "attempted", "failed", "metrics"}.

--trace 0 reports the end-to-end metrics with tracing off. --trace 1
runs the same workload with spans recorded around the calls into each
layer, on under a third of the work (its per-layer metrics need fewer
samples than the end-to-end ones, and the probes add their own time),
adds the per-layer probes (layers.py), reports the per-layer metrics
and writes the spans to .perfbench_out/. A run reads and writes only
inside the checkout; its scratch directory is removed at exit, after the
JVM and every Python worker have stopped.

Which end-to-end metric each per-layer metric should move, on which
workload, is set out in layers.py.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "cloudwatch_sematext_aws_lambda_log_shipper_spark"
# Share of --seconds a traced run spends on the workload itself.
TRACED_SHARE = 0.3
# Spark driver heap. The package default (24g) exceeds small hosts; the
# benchmark's data are small, and a heap this size fills early in a run,
# so peak memory does not swing with when G1 grows the heap.
DRIVER_MEMORY = "1g"


def parse_args(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True,
                   choices=("ship_backlog", "ship_live"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def median_and_p90(values: list[float]) -> tuple[float, float]:
    """(p50, p90) of the samples; (0, 0) when there are none, which only
    happens when operations failed and the run is marked incorrect."""
    from harness import pctl

    return (pctl(values, 50), pctl(values, 90)) if values else (0.0, 0.0)


def bench(args, work: str) -> tuple[dict, dict, dict, int, int, list[str]]:
    """Runs one measurement. Returns (metrics {name: (value, unit,
    note)}, figures that are printed but not reported in the result
    line (same shape), host context, attempted, failed, problems)."""
    import harness
    import layers
    import workloads

    context = {"cpus": harness.host_cpus(), "slots": harness.spark_slots(),
               "load1_start": os.getloadavg()[0],
               "canary_s_start": harness.host_canary_s()}
    ticks0 = harness.cpu_ticks()
    tracer = harness.Tracer(bool(args.trace))
    with harness.RssSampler() as rss:
        seconds = args.seconds * (TRACED_SHARE if args.trace else 1)
        workload = workloads.WORKLOADS[args.workload](args.seed, work, seconds)

        from cloudwatch_sematext_aws_lambda_log_shipper_spark.session import get_spark

        t0 = time.perf_counter()
        spark = get_spark("perfbench")
        t1 = time.perf_counter()
        warm = workloads.warm_up(spark, args.seed, work, workload.warm_drains)
        start_s, warm_s = t1 - t0, time.perf_counter() - t1
        gc0 = harness.gc_millis(spark)
        out = workload.run(spark, tracer)
        out.attempted += warm.attempted
        if warm.failed:
            out.fail(warm.failed, "warm-up: " + "; ".join(warm.problems))
        if args.trace:
            per_layer = layers.traced(spark, args, work, out, tracer,
                                      start_s, warm_s, gc0)
    context["load1_end"] = os.getloadavg()[0]
    context["canary_s_end"] = harness.host_canary_s()
    steal, total = (b - a for a, b in zip(ticks0, harness.cpu_ticks()))
    context["steal_share"] = round(steal / max(total, 1), 4)
    context.update(out.notes)
    context["ship_rates"] = [round(x) for x in out.ship_rates]
    context["query_s"] = {k: [round(t, 3) for kk, t, _ in out.queries if kk == k]
                          for k in dict.fromkeys(k for k, _, _ in out.queries)}

    if args.trace:
        per_layer["host.canary_s"] = (context["canary_s_start"], "s")
        per_layer["host.load1"] = (context["load1_start"], "load")
        metrics = {n: (v, u, "") for n, (v, u) in per_layer.items()}
        shown = {}
        os.makedirs(os.path.join(ROOT, ".perfbench_out"), exist_ok=True)
        tracer.dump(os.path.join(
            ROOT, ".perfbench_out", f"trace-{args.workload}-{args.seed}.json"))
    else:
        f50, f90 = median_and_p90(out.freshness)
        q50, q90 = median_and_p90(out.query_times())
        metrics = {
            "setup_s": (start_s + warm_s, "s",
                        f"session {start_s:.2f} + warm-up {warm_s:.2f}"),
            "ship_events_per_s": (statistics.median(out.ship_rates), "events/s",
                                  f"median of n={len(out.ship_rates)} ships"),
            "freshness_p50_s": (f50, "s", f"n={len(out.freshness)} files"),
            "query_p50_s": (q50, "s", f"n={len(out.query_times())} queries"),
            "peak_rss_mb": (rss.peak_bytes / 2**20, "MB", "process tree"),
        }
        # The p90s rest on the slowest few samples of a short window, so a
        # burst of CPU steal on a shared host moves them far more than the
        # medians: they are printed for reading, not reported as results.
        shown = {
            "freshness_p90_s": (f90, "s", f"n={len(out.freshness)} files"),
            "query_p90_s": (q90, "s", f"n={len(out.query_times())} queries"),
        }
    return metrics, shown, context, out.attempted, out.failed, out.problems


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"perfbench: package {PACKAGE} not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    import harness

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    harness.configure_env(work, harness.spark_slots(), DRIVER_MEMORY)
    try:
        metrics, shown, context, attempted, failed, problems = bench(args, work)
    finally:
        harness.stop_jvm()
        shutil.rmtree(work, ignore_errors=True)

    print(f"perfbench {args.workload} seed={args.seed} seconds={args.seconds:g} "
          f"trace={args.trace} " + json.dumps(context, default=str))
    for name, (value, unit, note) in {**metrics, **shown}.items():
        print(f"  {name:<34} {value:>14.6g} {unit:<9} {note}")
    # attempted >= 1: the set-up drain alone is several operations
    print(f"  {'failed_op_ratio':<34} {failed / attempted:>14.6g} {'ratio':<9} "
          f"{failed} of {attempted} operations")
    for p in problems:
        print(f"  FAILED: {p}")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {n: {"value": v, "unit": u} for n, (v, u, _) in metrics.items()},
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
