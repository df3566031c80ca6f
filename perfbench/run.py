#!/usr/bin/env python3
"""Benchmark of the engine: one closed-loop workload per run.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run it from the root of a checkout. Workloads (README.md has the detail):

- ``headline``: the ten bench.py headline registry entries, rebuilt
  from ``queries()`` and collected, round after round, over seeded
  TPC-H-shaped tables; every result is checked against the entry's
  DuckDB oracle.
- ``covid``: seeded covid CSV batches land one at a time; each runs
  bronze ingest, the incremental ETL, the five gold widgets and the two
  AvailableNow streaming queries, checked against a pure-Python oracle.

Everything the run writes lives under ``.perfbench/`` in the checkout
and is removed at the end, apart from the span file of a traced run.
The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``; the lines before it
give each metric with its unit and sample count. With ``--trace 0`` the
metrics are the end-to-end ones, with ``--trace 1`` the per-layer ones.
The exit code is 1 if any output check failed.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    nproc = len(os.sched_getaffinity(0))
    steal0 = cpu_steal_s()
    load1, load5, _ = os.getloadavg()
    base = os.path.join(ROOT, ".perfbench")
    work = os.path.join(base, f"{args.workload}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    # Keep every file Spark, the JVM and Python write inside the checkout,
    # and pin the clock zone so collected timestamps match the oracles.
    os.environ.update(
        TMPDIR=tmp,
        TZ="UTC",
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        SPARK_GRAFT_DRIVER_MEM="1g",
        PYSPARK_PYTHON=sys.executable,
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    )
    sys.path.insert(0, ROOT)
    try:
        import workloads

        if args.workload not in workloads.WORKLOADS:
            ap.error(f"unknown workload {args.workload!r}; one of {sorted(workloads.WORKLOADS)}")
        b = workloads.Bench(args.seed, args.seconds, bool(args.trace), nproc, work)
        try:
            workloads.WORKLOADS[args.workload](b)
            e2e = b.end_to_end()
            layers = b.per_layer() if args.trace else {}
        finally:
            stop_spark(b.spark)
        if args.trace:
            b.tracer.write(os.path.join(base, f"spans-{args.workload}.jsonl"))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    env = {"workload": args.workload, "seed": args.seed, "nproc": nproc,
           "loadavg_start_1m": load1, "loadavg_start_5m": load5,
           "cpu_steal_s": cpu_steal_s() - steal0,
           "session_start_s": b.session_start_s, "warmup_s": b.warmup_s,
           "peak_rss_mb_jvm_py": b.peak_rss_mb, "ops_s": [s for s, _, _ in b.ops[b.first_op :]]}
    print("# env " + json.dumps(env))
    for name, (value, unit, n) in e2e.items():
        print(f"# {name} = {value:.6g} {unit} (n={n})")
    p90, n = b.step_p90()
    print(f"# step_s.p90 = {p90:.6g} s (n={n}; not gated)")
    if args.trace:
        print("# layers " + json.dumps(b.workload_layers()))
    for problem in b.problems:
        print(f"# failed: {problem}")
    attempted = len(b.steps)
    failed = len(b.bad_steps)
    metrics = layers if args.trace else {k: (v, u) for k, (v, u, _) in e2e.items()}
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": attempted,
                "failed": failed,
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
            }
        )
    )
    return 0 if failed == 0 else 1


def cpu_steal_s() -> float:
    """CPU time the hypervisor gave to other guests, summed over CPUs."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def stop_spark(spark) -> None:
    """Stop the session, then the py4j gateway JVM, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if spark is not None:
        spark.stop()
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=60)
        SparkContext._gateway = SparkContext._jvm = None


if __name__ == "__main__":
    sys.exit(main())
