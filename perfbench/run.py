"""Run one workload of the nlp4l_spark benchmark.

    python3 perfbench/run.py --workload search --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. Prints one line per metric (name, value,
unit), then, as the last line of standard output, one JSON object with
the keys ``correct``, ``attempted``, ``failed`` and ``metrics``: the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``. A traced run also writes its spans and per-layer table to
``perfbench/out/``. Exits 1 when an output check fails, 2 when the
package under test cannot be imported.
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
WORK = os.path.join(ROOT, "perfbench", "work")
OUT = os.path.join(ROOT, "perfbench", "out")


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=("search", "ingest"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def start_spark(cores: int, work: str):
    """A local session whose scratch files all stay under ``work``."""
    from pyspark.sql import SparkSession

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # Python workers import nlp4l_spark from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["TMPDIR"] = tmp
    # every JVM the launch starts: temp files here, no hsperfdata in /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    tempfile.tempdir = tmp
    spark = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName("perfbench")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.default.parallelism", str(cores))
        .config("spark.driver.memory", "2g")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.local.dir", tmp)
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and its Python workers) to exit."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def execute(spark, workload: str, seed: int, seconds: float, trace: bool, cores: int, work: str):
    """Run one workload in an existing session; returns the Run."""
    from perfbench.spans import Tracer
    from perfbench.workloads import Run, run_workload

    indexes = os.path.join(work, "indexes")
    shutil.rmtree(indexes, ignore_errors=True)
    tracer = Tracer(spark.sparkContext if trace else None, enabled=trace)
    run = Run(spark, tracer, seed, seconds, indexes, cores)
    run_workload(run, workload)
    return run


def report(run, workload: str, trace: bool) -> dict:
    """Print every metric by name and unit; return the result object."""
    from perfbench.workloads import END_TO_END, PER_LAYER, supported_percentile

    n = run.notes.get("latency_samples", 0)
    sp = supported_percentile(n)
    print(f"# workload {workload} seed {run.seed}: latency over {n} samples; "
          + (f"highest supported percentile p{sp:.0f}" if sp else
             "fewer than 20 samples, so no percentile has 10 beyond it"))
    print(f"# phases: {json.dumps(run.notes)}")
    print(f"# error_rate {run.failed}/{run.attempted}")
    for name, unit in END_TO_END.items():
        print(f"{name:40s} {run.metrics.get(name, float('nan')):16.6f} {unit}")
    chosen = PER_LAYER if trace else END_TO_END
    values = run.layer if trace else run.metrics
    if trace:
        for name, unit in PER_LAYER.items():
            print(f"{name:40s} {values.get(name, float('nan')):16.6f} {unit}")
    for m in run.mismatches[:20]:
        print(f"# CHECK FAILED: {m}")
    for e in run.errors[:20]:
        print(f"# OPERATION FAILED: {e}")
    return {
        "correct": run.correct,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {
            name: {"value": float(values[name]), "unit": unit}
            for name, unit in chosen.items()
            if name in values
        },
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    try:
        import nlp4l_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: cannot import the package under test: {exc}", file=sys.stderr)
        return 2
    cores = max(1, min(4, len(os.sched_getaffinity(0))))
    t0 = time.perf_counter()
    spark = start_spark(cores, WORK)
    start_s = time.perf_counter() - t0
    try:
        run = execute(spark, args.workload, args.seed, args.seconds, bool(args.trace), cores, WORK)
        run.notes["spark_start_s"] = start_s
        run.notes["total_s"] = time.perf_counter() - t0
        result = report(run, args.workload, bool(args.trace))
        if args.trace:
            path = os.path.join(OUT, f"{args.workload}-seed{args.seed}.spans.json")
            run.tracer.write(path, {"per_layer": run.layer, "end_to_end": run.metrics,
                                    "notes": run.notes})
            print(f"# spans written to {os.path.relpath(path, ROOT)}")
    finally:
        stop_spark(spark)
        shutil.rmtree(WORK, ignore_errors=True)
    print(json.dumps(result), flush=True)
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
