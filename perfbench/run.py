"""Benchmark entry point.

    python3 perfbench/run.py --workload build|serve --seed N --seconds S --trace 0|1

Run from the root of a checkout. Inputs are generated from ``--seed``;
every answer is checked against a pure-Python twin. The last line of
standard output is one JSON object ``{"correct", "attempted", "failed",
"metrics"}``: with ``--trace 0`` the end-to-end metrics named in
``BENCHMARK.json``, with ``--trace 1`` the per-layer metrics (spans and
a detailed report are also written to ``.perfbench_out/``).

Each run works in a fresh directory under ``.perfbench_runs/`` in the
checkout (warehouse, Spark local dirs, temp files, event log) and
deletes it before exiting.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ENGINE = "parallel_inverted_index_map_reduce_spark"
# engine tuning knobs read from the environment: cleared so that every
# run measures the engine's own defaults
TUNING_ENV = ("SPARK_GRAFT_SHUFFLE_PARTITIONS", "SPARK_GRAFT_DRIVER_MEM")


def parse(argv=None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload", required=True, choices=("build", "serve"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    # self-test hooks
    p.add_argument("--scale", choices=("full", "tiny"), default="full", help=argparse.SUPPRESS)
    p.add_argument("--corrupt", action="store_true", help=argparse.SUPPRESS)
    return p.parse_args(argv)


def isolate(run_dir: str, trace: bool) -> None:
    """Point every place Spark, the JVM and Python write to into
    ``run_dir``; enable the event log only for traced runs."""
    for k in TUNING_ENV:
        os.environ.pop(k, None)
    paths = {k: os.path.join(run_dir, k) for k in ("warehouse", "local", "tmp", "events")}
    for p in paths.values():
        os.makedirs(p)
    os.environ["SPARK_GRAFT_WAREHOUSE"] = paths["warehouse"]
    os.environ["SPARK_LOCAL_DIRS"] = paths["local"]
    os.environ["TMPDIR"] = paths["tmp"]
    tempfile.tempdir = None
    # the small JVM spark-submit runs first to assemble the JVM command line
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-Djava.io.tmpdir={paths['tmp']} -XX:-UsePerfData"
    conf = [
        f"--driver-java-options '-Djava.io.tmpdir={paths['tmp']} -XX:-UsePerfData'",
        "--conf spark.ui.showConsoleProgress=false",
    ]
    if trace:
        conf += [
            "--conf spark.eventLog.enabled=true",
            f"--conf spark.eventLog.dir=file://{paths['events']}",
            "--conf spark.eventLog.compress=false",
        ]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(conf + ["pyspark-shell"])


def stop_spark(bench) -> None:
    """Stop the session and wait for the JVM to exit."""
    starting = getattr(bench, "_session_thread", None)
    if starting is not None:
        starting.join()  # a session still starting is stopped too
    if bench.spark is None:
        return
    gw = bench.spark.sparkContext._gateway
    bench.spark.stop()
    bench.spark = None
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        proc.wait(timeout=120)


def main(argv=None) -> int:
    t_start = time.perf_counter()
    args = parse(argv)
    engine_dir = os.path.join(ROOT, ENGINE)
    if not os.path.isfile(os.path.join(engine_dir, "__init__.py")):
        print(f"perfbench: engine package {ENGINE} not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    import importlib

    engine = importlib.import_module(ENGINE)
    if os.path.dirname(os.path.abspath(engine.__file__)) != engine_dir:
        print(f"perfbench: {ENGINE} imported from {engine.__file__}, not this checkout", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    wanted = spec["per_layer" if args.trace else "end_to_end"]

    from perfbench import workloads

    runs = os.path.join(ROOT, ".perfbench_runs")
    os.makedirs(runs, exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix=f"{args.workload}-{args.seed}-", dir=runs)
    isolate(run_dir, args.trace == 1)
    cpus = len(os.sched_getaffinity(0))
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    bench = workloads.Bench(args, workloads.SCALES[args.scale], run_dir, cpus, t_start)
    try:
        fn = workloads.run_build if args.workload == "build" else workloads.run_serve
        values = fn(bench)
        stop_spark(bench)
        if args.trace:
            values = workloads.layer_metrics(bench, os.path.join(run_dir, "events"))
            out = os.path.join(ROOT, ".perfbench_out")
            os.makedirs(out, exist_ok=True)
            path = os.path.join(out, f"trace-{args.workload}-seed{args.seed}.json")
            with open(path, "w") as fh:
                json.dump({"per_layer": values, "report": bench.report,
                           "spans": [s.__dict__ for s in bench.tracer.spans]}, fh, indent=1)
            workloads.log(f"spans and per-layer metrics written to {path}")
            workloads.log(f"tracing overhead: {100 * values['tracing.overhead_ratio']:+.1f}%")
    finally:
        stop_spark(bench)
        shutil.rmtree(run_dir, ignore_errors=True)
    missing = [m["name"] for m in wanted if m["name"] not in values]
    if missing:
        print(f"perfbench: metrics not measured: {missing}", file=sys.stderr)
        return 1
    print("perfbench report: " + json.dumps(bench.report, sort_keys=True))
    print(
        json.dumps(
            {
                "correct": bench.failed == 0,
                "attempted": bench.attempted,
                "failed": bench.failed,
                "metrics": {
                    m["name"]: {"value": float(values[m["name"]]), "unit": m["unit"]} for m in wanted
                },
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
