#!/usr/bin/env python3
"""Run one workload of the engine benchmark and print its metrics.

    python3 perfbench/run.py --workload nightly_dag --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The last line of standard output is one
JSON object ``{"correct", "attempted", "failed", "metrics"}``: with
``--trace 0`` the end-to-end metrics of BENCHMARK.json, with ``--trace 1``
its per-layer metrics. The line before it records the session settings.
Every run works in a fresh scratch directory inside the checkout, which it
refuses to reuse and removes on exit. The command exits non-zero when an
op fails or an output does not match what is expected.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import signal
import subprocess
import sys
import tempfile
from time import perf_counter

_T0 = perf_counter()
CHECKOUT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SCRATCH = os.path.join(CHECKOUT, ".perfbench-scratch")
TRACE_DIR = os.path.join(CHECKOUT, ".perfbench-trace")
sys.path.insert(0, CHECKOUT)

from perfbench import workloads  # noqa: E402 - needs the checkout on sys.path


def _parse_args(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=tuple(workloads.RUNNERS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _session_settings(root: str, traced: bool) -> tuple[dict[str, str], dict[str, str]]:
    """Environment and Spark conf sized for this machine, with every
    path the session writes under ``root``."""
    cores = len(os.sched_getaffinity(0))
    ram_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    env = {
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_GRAFT_DRIVER_MEM": f"{min(4096, ram_mb // 4)}m",
        "TMPDIR": os.path.join(root, "tmp"),
    }
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(root, "local"),
        "spark.sql.warehouse.dir": os.path.join(root, "warehouse"),
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={env['TMPDIR']} -Dderby.system.home={root}"
        ),
    }
    if traced:
        conf["spark.eventLog.enabled"] = "true"
        conf["spark.eventLog.dir"] = "file://" + os.path.join(root, "eventlog")
        conf["spark.eventLog.compress"] = "false"
        conf["spark.eventLog.rolling.enabled"] = "false"
    return env, conf


def _make_scratch() -> str:
    if os.path.exists(SCRATCH) and os.listdir(SCRATCH):
        raise SystemExit(f"scratch directory {SCRATCH} is not empty; remove it first")
    for sub in ("tmp", "local", "warehouse", "eventlog"):
        os.makedirs(os.path.join(SCRATCH, sub), exist_ok=True)
    return SCRATCH


def _stop_session(spark) -> None:
    """Stop Spark if it started, then end the JVM this process launched
    and wait for it: the JVM exits when its stdin closes."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway  # noqa: SLF001 - the JVM this process started
    proc = getattr(gateway, "proc", None)
    try:
        if spark is not None:
            spark.stop()
        if gateway is not None:
            gateway.shutdown()
    finally:
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


def _peak_rss_mb(spark) -> float:
    """Peak resident memory of this process plus the driver JVM."""
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    jvm_kb = 0
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()  # noqa: SLF001
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    return (py_kb + jvm_kb) / 1024


def main(argv: list[str]) -> int:
    args = _parse_args(argv)
    try:
        import openalex_walden_spark  # noqa: F401 - the program under test
    except ImportError as e:
        print(f"perfbench: cannot import the engine: {e}", file=sys.stderr)
        return 2
    if not os.path.exists(workloads.GOLDENS_PATH):
        print(f"perfbench: goldens missing at {workloads.GOLDENS_PATH}", file=sys.stderr)
        return 2

    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    root = _make_scratch()
    spark = None
    stopped = False
    try:
        traced = bool(args.trace)
        env, conf = _session_settings(root, traced)
        os.environ.update(env)
        tempfile.tempdir = None  # re-read TMPDIR
        from perfbench.trace import Tracer

        tracer = Tracer(traced)
        with tracer.span("session.start"):
            from openalex_walden_spark.session import get_spark

            spark = get_spark(app_name=f"perfbench-{args.workload}", extra_conf=conf)
            spark.sparkContext.setLogLevel("ERROR")
        session_s = perf_counter() - _T0
        tracer.attach(spark.sparkContext)
        print(json.dumps({"settings": {
            "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace, "master": spark.sparkContext.master,
            "driver_memory": env["SPARK_GRAFT_DRIVER_MEM"],
            "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
            "spark": spark.version,
        }}), flush=True)

        bench = workloads.Bench(spark, root, tracer, args.seed, args.seconds, t0=_T0)
        result = workloads.RUNNERS[args.workload](bench)

        if traced:
            from perfbench import trace

            layers = {
                "session.start_s": session_s,
                "session.peak_rss_mb": _peak_rss_mb(spark),
                "trace.pass_s": result["pass_s"],
                **bench.layer_extras,
                **workloads.calibrate_host(spark),
            }
            cores = spark.sparkContext.defaultParallelism
            _stop_session(spark)  # flushes the event log
            stopped = True
            tracer.write(os.path.join(TRACE_DIR, f"{args.workload}-seed{args.seed}.json"))
            log = trace.read_event_log(os.path.join(root, "eventlog"))
            layers.update(trace.layer_metrics(tracer.spans, log, bench.timed_passes, cores))
            layers["ops_attempted"] = bench.attempted
            layers["ops_failed"] = bench.failed
            unlisted = set(layers) ^ set(workloads.LAYER_UNITS)
            if unlisted:
                raise RuntimeError(f"per-layer metrics differ from LAYER_UNITS: {sorted(unlisted)}")
            metrics = {k: {"value": layers[k], "unit": u} for k, u in workloads.LAYER_UNITS.items()}
        else:
            metrics = {k: {"value": result[k], "unit": u} for k, u in workloads.E2E_UNITS.items()}
        correct = bench.failed == 0
        print(json.dumps({
            "correct": correct, "attempted": bench.attempted, "failed": bench.failed,
            "metrics": metrics,
        }), flush=True)
        return 0 if correct else 1
    finally:
        try:
            if "pyspark" in sys.modules and not stopped:
                _stop_session(spark)
        finally:
            shutil.rmtree(root, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
