"""Benchmark entry point.

    python3 steadybench/run.py --workload {elt_refresh,short_queries}
        --seed N --seconds S --trace {0,1}

Run from the root of a checkout. Prints one JSON line of run details and,
as the last line, the result: ``correct``, ``attempted``, ``failed`` and
``metrics`` (end-to-end metrics untraced, per-layer metrics traced).
Exits non-zero without a result when the package is not in the checkout
or the run cannot complete. See steadybench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

# Work files and span dumps live in the checkout, under ignored directories.
WORK_DIR = ".steadybench_work"
OUT_DIR = ".steadybench_out"


def task_slots() -> int:
    """Spark task slots: half the CPUs this process may use, so tasks do
    not compete with the JIT and GC threads and the Python driver."""
    return max(1, len(os.sched_getaffinity(0)) // 2)


def main(argv: list[str] | None = None) -> int:
    import probes
    import workloads

    p = argparse.ArgumentParser(prog="steadybench/run.py")
    p.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, workloads.PKG)):
        print(f"steadybench: package {workloads.PKG} not found under {ROOT}",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    work = os.path.join(ROOT, WORK_DIR, f"{args.workload}-{args.seed}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    slots = task_slots()
    # Spark's block/shuffle files, the JVM's and Python's temp files all
    # stay inside the run's work directory.
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(slots),
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": tmp,
        "PYSPARK_SUBMIT_ARGS": (
            f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData' "
            "--conf spark.ui.showConsoleProgress=false pyspark-shell"),
    })
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    tempfile.tempdir = tmp
    run = workloads.Run(args.workload, args.seed, args.seconds,
                        bool(args.trace), work, slots)
    # read before the JVM starts and after it has exited, so that nothing
    # of the run itself competes with the loop
    host_speed = [probes.host_speed_s()]
    try:
        run.setup()
        try:
            e2e, details = workloads.WORKLOADS[args.workload](run)
        finally:
            run.shutdown()
        host_speed.append(probes.host_speed_s())
    except Exception:  # noqa: BLE001 — no result line on a broken run
        traceback.print_exc()
        return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)

    if args.trace:
        os.makedirs(os.path.join(ROOT, OUT_DIR), exist_ok=True)
        run.tracer.write(os.path.join(
            ROOT, OUT_DIR, f"spans-{args.workload}-{args.seed}.json"))
    per_layer = details.pop("per_layer")
    metrics = per_layer if args.trace else e2e
    print(json.dumps({**run.details(), **details, "host_speed_s": host_speed,
                      "trace_self_s": run.tracer.self_times()}))
    print(json.dumps({
        "correct": run.ops.correct,
        "attempted": run.ops.attempted,
        "failed": run.ops.failed,
        "metrics": {k: {"value": float(v), "unit": u}
                    for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
