"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload cdc_trickle --seed 1 --seconds 20 --trace 0

Run from the repository root: the engine package is imported from the
current directory.  Scratch state (feed files, the store, Spark's local
dirs) lives under ``.perfbench_run/`` there and is removed on exit; a
traced run leaves its spans in ``.perfbench_run/spans-<workload>-<seed>.jsonl``.  The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``; ``--trace 0`` reports
the end-to-end metrics, ``--trace 1`` the per-layer ones.  The exit code
is nonzero when any correctness check fails or the engine is missing.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import resource
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ENGINE = "sfguide_intro_to_cdc_using_snowflake_postgres_connector_dynamic_tables_spark"
WORKLOADS = ("cdc_trickle", "dashboard_reads")

def _peak_rss_mb(spark) -> float:
    """Peak resident memory of this Python process plus the driver JVM."""
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    jvm_kb = 0
    with open(f"/proc/{jvm_pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    return (py_kb + jvm_kb) / 1024.0


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    t_start = time.perf_counter()

    repo = os.getcwd()
    if not os.path.isdir(os.path.join(repo, ENGINE)):
        print(f"error: run from the repository root; {ENGINE}/ not found in {repo}",
              file=sys.stderr)
        return 2
    sys.path.insert(0, repo)
    work = os.path.join(repo, ".perfbench_run", f"{args.workload}-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    nproc = len(os.sched_getaffinity(0))
    env = {
        "SPARK_GRAFT_CPUS": str(nproc),
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": os.path.join(work, "tmp"),
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData",
    }
    saved = {k: os.environ.get(k) for k in env}
    os.environ.update(env)
    os.makedirs(env["TMPDIR"], exist_ok=True)
    spark = run = None
    try:
        import duckdb
        import pyspark

        from workloads import Run

        from sfguide_intro_to_cdc_using_snowflake_postgres_connector_dynamic_tables_spark.session import (
            get_spark,
        )

        spark = get_spark(app_name=f"perfbench-{args.workload}",
                          conf={"spark.ui.showConsoleProgress": "false"})
        spark.sparkContext.setLogLevel("ERROR")
        run = Run(spark, work, args.seed, args.seconds, bool(args.trace), t_start)
        values = getattr(run, args.workload)()
        if run.tracer:
            run.tracer.dump(os.path.join(
                repo, ".perfbench_run", f"spans-{args.workload}-{args.seed}.jsonl"))
        run.layer["session.peak_rss_mb"] = _peak_rss_mb(spark)
        if args.trace:
            metrics = {n: {"value": run.layer.get(n, 0.0), "unit": u}
                       for n, u in _units("per_layer").items()}
        else:
            metrics = {n: {"value": values[n], "unit": u}
                       for n, u in _units("end_to_end").items()}
        for msg in run.failures:
            print(f"CHECK FAILED: {msg}", file=sys.stderr)
        print(json.dumps({
            "workload": args.workload, "seed": args.seed, "nproc": nproc,
            "loadavg": os.getloadavg(), "pyspark": pyspark.__version__,
            "duckdb": duckdb.__version__, "python": platform.python_version(),
        }))
        print(json.dumps({
            "correct": not run.failures,
            "attempted": run.attempted,
            "failed": len(run.failures),
            "metrics": metrics,
        }))
        return 1 if run.failures else 0
    finally:
        if run is not None and run.tracer is not None:
            run.tracer.unwrap_all()
        if spark is not None:
            _stop(spark)
        for k, v in saved.items():
            if v is None:
                os.environ.pop(k, None)
            else:
                os.environ[k] = v
        shutil.rmtree(work, ignore_errors=True)


def _stop(spark) -> None:
    """Stop the session and wait for the driver JVM to exit: it quits
    when its stdin closes."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def _units(kind: str) -> dict[str, str]:
    """Metric name -> unit for ``kind`` (``end_to_end`` or ``per_layer``)
    as ``BENCHMARK.json`` declares them."""
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[kind]}


if __name__ == "__main__":
    sys.exit(main())
