"""Workload benchmark for the medallion engine.

Usage, from the root of a checkout::

    python3 perfbench/run.py --workload batch_refresh --seed 1 \\
        --seconds 20 --trace 0

Prints a report, then as its last line one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``. ``--trace 0``
reports the end-to-end metrics; ``--trace 1`` alternates untraced and
traced cycles and reports the per-layer metrics, writing the spans to
``.perfbench/traces/<workload>-seed<seed>.json``.

Everything the run writes lives under ``.perfbench/`` in the checkout;
the per-run work directory (inputs, tables, checkpoints, Spark scratch)
is removed at exit. Exits 2 without a result when the engine package is
not next to the benchmark.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import tempfile
import time

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
PKG = "nyc_taxi_data_ingestion_spark"
# a run stops starting cycles past this many seconds, to exit in time
DEADLINE_S = 140


# workload name -> (module in this directory, class)
WORKLOADS = {
    "batch_refresh": ("batch", "BatchRefresh"),
    "lakehouse_cdc": ("lakehouse", "LakehouseCdc"),
}


def _isolate(work: str) -> None:
    """Point every scratch location at ``work`` before the JVM starts, and
    put the checkout on the path of the driver and of Python workers."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    # every JVM spark-submit starts, its launcher too, would otherwise
    # write a perf-data file under /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.chdir(work)  # stray relative writes (derby.log, warehouse) land here


def _spark_factory(work: str):
    def start():
        from nyc_taxi_data_ingestion_spark.session import ensure_package_shipped, get_spark

        # one core stays free for the driver, the JIT and Python workers:
        # on a quiet 4-core host this cut the run-to-run spread of cycle_s
        # from ~15% to ~3% at the same cycle time
        cpus = max(1, min(4, len(os.sched_getaffinity(0)) - 1))
        spark = get_spark(
            app_name="perfbench",
            master=f"local[{cpus}]",
            extra_confs={
                # a fixed-size heap, so peak memory does not depend on
                # when the collector chose to grow it
                "spark.driver.memory": "2g",
                "spark.driver.extraJavaOptions":
                    "-Xms2g -XX:ReservedCodeCacheSize=512m -XX:+UseCodeCacheFlushing "
                    f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
                "spark.local.dir": os.path.join(work, "local"),
                "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
                "spark.ui.showConsoleProgress": "false",
                "spark.sql.shuffle.partitions": str(2 * cpus),
            },
        )
        ensure_package_shipped(spark)
        return spark

    return start


def _stop_spark() -> None:
    """Stop the session and the JVM behind it, and wait for the JVM."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.terminate()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, PKG, "__init__.py")):
        print(f"perfbench: engine package {PKG}/ not found next to the benchmark",
              file=sys.stderr)
        return 2
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    sys.path[:0] = [BENCH_DIR, ROOT]
    import importlib

    import harness
    from spans import layer_metric_units

    out_dir = os.path.join(ROOT, ".perfbench")
    work = os.path.join(out_dir, f"run-{os.getpid()}-{time.time_ns()}")
    trace_path = os.path.join(out_dir, "traces", f"{args.workload}-seed{args.seed}.json")
    cwd = os.getcwd()
    started = time.monotonic()
    try:
        _isolate(work)
        mod, cls = WORKLOADS[args.workload]
        workload = getattr(importlib.import_module(mod), cls)
        res = harness.run(workload, _spark_factory(work), args.seed,
                          args.seconds, bool(args.trace), work, trace_path,
                          deadline=started + DEADLINE_S)
    finally:
        try:
            _stop_spark()
        finally:
            os.chdir(cwd)
            shutil.rmtree(work, ignore_errors=True)

    ops, report = res["ops"], res["report"]
    units = layer_metric_units() if args.trace else harness.END_TO_END_UNITS
    print(json.dumps(report, default=str))
    for name, value in res["metrics"].items():
        print(f"{name:48s} {'null' if value is None else format(value, '14.6g'):>14} "
              f"{units[name]}")
    print(harness.result_line(ops.checks_failed == 0, ops, res["metrics"], units), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
