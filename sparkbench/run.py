"""Benchmark entry point.

    python3 sparkbench/run.py --workload serve --seed 1 --seconds 8 --trace 0

Run from the repository root.  Prints one JSON object as its last line:
``{"correct", "attempted", "failed", "metrics"}``, with the end-to-end
metrics when ``--trace 0`` and the per-layer metrics when ``--trace 1``.
The line before it is the run record (noise probes, warm-up walls,
per-call walls, recall per nprobe point).  Exits non-zero, printing no
result, if the package under test is not beside this directory.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# Executor slots per workload.  ``serve`` is driver-bound: with 4 slots on a
# 4-core host its executors contend with the driver, and its median call
# was slower in every interleaved pair against 2 slots (0.64-0.74 s vs
# 0.59-0.65 s).  ``batch_search`` is executor-bound and gets every core.
CPUS = {"serve": 2, "batch_search": 4}
# Driver-JVM compiler flags per workload.  ``serve``'s calls are short and
# spent in driver-side code, which a one-minute process never brings to C2
# steady state: C2 is still compiling through the measured loop.  In six
# interleaved pairs of runs, ``serve``'s median call spread by 0.14 of its
# median with the default compilers and by 0.05 with C1 only, at the same
# median (666 vs 664 ms).  ``batch_search`` spends its calls in executor
# code, where C1 cost 16 % of its throughput and did not narrow the
# spread, so it keeps the default.
JIT = {"serve": "-XX:TieredStopAtLevel=1", "batch_search": ""}


def _parse() -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(CPUS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return ap.parse_args()


def _environment(work: str, cpus: int, jit: str) -> None:
    """Everything the run writes stays under ``work``: Spark's shuffle and
    block files, the JVM's temp files and Python's.  The executors' Python
    workers import the package from this checkout too."""
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, HERE, os.environ.get("PYTHONPATH")) if p)
    os.environ["TMPDIR"] = work
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_LOCAL_DIRS"] = work
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        # a fixed-size heap: a growing one made the JVM's peak RSS vary by
        # half a gigabyte between otherwise identical runs
        "--driver-memory 2g "
        f"--driver-java-options '-Xms2g {jit} -Djava.io.tmpdir={work} -XX:-UsePerfData' "
        f"--conf spark.local.dir={work} "
        "--conf spark.ui.showConsoleProgress=false "
        f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')} "
        "pyspark-shell")


def _stop(spark) -> None:
    """Stops Spark and waits for the driver JVM (and with it the Python
    workers it started) to exit."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main() -> int:
    args = _parse()
    if not os.path.isfile(os.path.join(ROOT, "extended_rabitq_spark", "session.py")):
        print(f"sparkbench: no extended_rabitq_spark package in {ROOT}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".sparkbench_work", str(os.getpid()))
    os.makedirs(work, exist_ok=True)
    cpus = min(CPUS[args.workload], os.cpu_count() or 1)
    _environment(work, cpus, JIT[args.workload])
    sys.path[:0] = [ROOT, HERE]

    import workloads
    from extended_rabitq_spark.session import get_spark

    t0 = time.perf_counter()
    try:
        spark = get_spark("sparkbench", cpus=cpus)
    except BaseException:
        workloads.cleanup(work)
        raise
    spark.sparkContext.setLogLevel("ERROR")
    try:
        run = workloads.Run(spark, work, args.seed, args.seconds, bool(args.trace))
        e2e = workloads.WORKLOADS[args.workload](run)
        if args.trace:
            run.layers["spark.job_floor_ms"] = (run.detail["job_floor_ms_before"]
                                                + run.detail["job_floor_ms_after"]) / 2
            run.layers["host.calib_s"] = (run.detail["calib_s_before"]
                                          + run.detail["calib_s_after"]) / 2
            run.layers["host.steal_share"] = run.detail["steal_share"]
            metrics = {k: {"value": v, "unit": workloads.LAYER_UNITS[k]}
                       for k, v in sorted(run.layers.items())}
        else:
            metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
    finally:
        _stop(spark)
        workloads.cleanup(work)
    attempted = len(run.calls)
    record = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
              "cpus": cpus, "jit": JIT[args.workload], "process_s": time.perf_counter() - t0,
              "call_walls_s": [round(c["wall_s"], 4) for c in run.calls],
              "call_steal_shares": [round(c["steal_share"], 4) for c in run.calls],
              "errors": [c["error"] for c in run.calls if not c["ok"]], **run.detail}
    print(json.dumps({"record": record}, default=str))
    correct = run.failed == 0 and all(math.isfinite(m["value"]) for m in metrics.values())
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": run.failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
