#!/usr/bin/env python3
"""Benchmark of the time-series engine through its public surface.

Usage (from the root of a checkout)::

    python3 tsbench/run.py --workload telemetry --seed 1 --seconds 20 --trace 0
    python3 tsbench/run.py --smoke

One run is one fresh process: it starts a Spark session on
``local[<nproc>]``, sets up the workload on a fresh store under
``.tsbench_work/``, runs a fixed number of untimed warm-up rounds and
then the timed rounds, checks every answer, and prints a report
followed by one JSON line::

    {"correct": true, "attempted": N, "failed": 0, "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones; with
``--trace 1`` the engine's public entry points are wrapped in spans
and the metrics are the per-layer ones (see ``README.md``). The number
of timed rounds is ``--seconds`` over the workload's ``round_s``,
rounded up, so one seed always gives one op schedule.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import subprocess
import sys
import time

import harness
import probes
import report
from corpus import JOBS, Corpus
from spans import Tracer, install
from telemetry import Telemetry

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
WORK = os.path.join(ROOT, ".tsbench_work")

WORKLOADS = ("telemetry", "corpus")


def pin_environment(work: str) -> None:
    """Everything that could drift between runs is fixed here, before
    the JVM starts: the core count and every scratch path (kept inside
    the work directory). The driver heap is the engine's default. The
    JIT compiler threads all start with the JVM and none exits, so the
    probes can keep their CPU apart (see ``probes``)."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
        "-XX:-UseDynamicNumberOfCompilerThreads' pyspark-shell")


def stop_spark(spark) -> None:
    """Stop the session and wait for its JVM to exit."""
    sc = spark.sparkContext
    gateway = sc._gateway
    proc = gateway.proc
    spark.stop()
    gateway.shutdown()
    proc.stdin.close()  # the gateway JVM exits when its stdin closes
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def run(workload: str, seed: int, seconds: int, trace: bool) -> dict:
    # process start, to the clock's 10 ms tick; the rest of set-up is
    # timed on the monotonic clock from here
    started = time.perf_counter() - probes.process_age_s()
    work = os.path.join(WORK, f"{workload}-{seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    try:
        pin_environment(work)
        return _run(workload, seed, seconds, trace, work, started)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _run(workload, seed, seconds, trace, work, started) -> dict:
    sys.path.insert(0, ROOT)
    tracer = None
    if trace:
        tracer = Tracer()
        install(tracer, JOBS)

    from aws_greengrass_labs_database_influxdb_spark.session import get_spark

    setup = {"compact_s": 0.0}
    t = time.perf_counter()
    spark = get_spark(app_name=f"tsbench-{workload}")
    setup["session_s"] = time.perf_counter() - t
    wl = None
    try:
        t = time.perf_counter()
        wl = (Telemetry if workload == "telemetry" else Corpus)(spark, work, seed)
        setup["provision_ms"] = (time.perf_counter() - t) * 1000
        wl.load(setup)

        runner = harness.Runner(spark, wl.store_root, tracer, wl.root_span)
        t = time.perf_counter()
        runner.run_rounds(wl.rotation, wl.warmup_rounds, timed=False)
        setup["warmup_s"] = time.perf_counter() - t
        setup["setup_s"] = time.perf_counter() - started

        t = time.perf_counter()
        runner.run_rounds(wl.rotation, max(1, math.ceil(seconds / wl.round_s)), timed=True,
                          first_round=wl.warmup_rounds)
        setup["timed_s"] = time.perf_counter() - t

        try:  # the final answer check, outside the timed window
            wl.final_check()
        except Exception as exc:  # noqa: BLE001 — reported as a failed check
            runner.errors.append(f"final check: {type(exc).__name__}: {exc}")
            runner.final_check_failed = True

        result = report.build(workload, runner, wl, setup, tracer)
        if tracer:
            tracer.dump(os.path.join(WORK, f"spans-{workload}-{seed}.jsonl"))
        return result
    finally:
        if wl is not None:
            wl.close()
        stop_spark(spark)


def smoke() -> int:
    """Run every workload briefly, traced and untraced, and check that
    the report names every metric with its unit and sample count."""
    ok = True
    for workload in WORKLOADS:
        for trace in (0, 1):
            cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                   "--seed", "7", "--seconds", "1", "--trace", str(trace)]
            proc = subprocess.run(cmd, capture_output=True, text=True, timeout=600)
            problems = report.validate(workload, trace, proc.returncode, proc.stdout)
            print(f"smoke {workload} trace={trace}: {'ok' if not problems else 'FAIL'}")
            for p in problems:
                print(f"  {p}")
            if problems:
                print(proc.stdout[-3000:], proc.stderr[-3000:], sep="\n")
            ok = ok and not problems
    return 0 if ok else 1


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="run each workload briefly and validate the output format")
    args = ap.parse_args()
    if args.smoke:
        return smoke()
    if not args.workload:
        ap.error("--workload is required")
    if not os.path.isdir(os.path.join(ROOT, "aws_greengrass_labs_database_influxdb_spark")):
        print("error: run from the root of a checkout that holds the engine package",
              file=sys.stderr)
        return 2
    result = run(args.workload, args.seed, args.seconds, bool(args.trace))
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
