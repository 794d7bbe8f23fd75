#!/usr/bin/env python3
"""Store-plane benchmark of pravega_spark.

Usage (from the repository root)::

    python3 storebench/run.py --workload hot_pubsub --seed 1 --seconds 20 --trace 0

``--trace 0`` prints the bounded end-to-end metrics. ``--trace 1`` first
runs the same untraced phase, then installs the benchmark's wrappers
around the engine's public functions, runs the phase again and prints
the per-layer metrics plus the tracing overhead (traced minus untraced).

The line before the last is a JSON run context (seed, nproc, steal share,
versions, filesystem, per-op counts, timing tails and the unbounded
wall-clock figures: write and read p50, events per second). The last line is
the result: ``{"correct", "attempted", "failed", "metrics"}``. A failed
check prints ``correct: false``. Without the ``pravega_spark`` package
next to this directory the run exits non-zero and prints no result.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from probes import process_start_time  # noqa: E402

PROCESS_START = process_start_time()

WORKLOADS = {
    "hot_pubsub": ("hot_pubsub", "HotPubSub"),
    "bulk_replay": ("bulk_replay", "BulkReplay"),
    "kvt_cas": ("kvt_cas", "KvtCas"),
}


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def configure_env(workdir: str) -> None:
    """Environment for the engine and for the processes Spark starts:
    the repository on every Python path, local and temp dirs inside the
    work dir, Spark sized to the machine, and no engine tuning variable
    (the default program is what gets measured)."""
    tmp = os.path.join(workdir, "tmp")
    local = os.path.join(workdir, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    for name in [n for n in os.environ if n.startswith("PRAVEGA_SPARK_")]:
        del os.environ[name]
    old = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = REPO + (os.pathsep + old if old else "")
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc())
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["SPARK_DRIVER_MEMORY"] = "2g"
    os.environ["TMPDIR"] = tmp
    # -XX:-UsePerfData: each JVM (spark-class's launcher, then Spark's own)
    # would otherwise keep a file in /tmp/hsperfdata_*
    for name, extra in (("SPARK_LAUNCHER_OPTS", ""), ("SPARK_SUBMIT_OPTS", f" -Djava.io.tmpdir={tmp}")):
        os.environ[name] = f"{os.environ.get(name, '')}{extra} -XX:-UsePerfData".strip()
    sys.path.insert(0, REPO)


def start_spark():
    from pravega_spark.session import get_spark

    spark = get_spark("storebench")
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, then the JVM, and wait for it to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


def build(name: str, seed: int, size: str, workdir: str):
    """Import the workload's module and make its instance; returns
    (workload, spark or None)."""
    import importlib

    mod_name, cls_name = WORKLOADS[name]
    cls = getattr(importlib.import_module(mod_name), cls_name)
    spark = start_spark() if cls.uses_spark else None
    return cls(seed, size, os.path.join(workdir, "store"), spark), spark


def measure(name: str, seed: int, seconds: float, trace: bool, size: str,
            workdir: str) -> tuple[dict, dict]:
    """Set up, warm up and run the timed phase(s). Returns
    (result line, context)."""
    import pravega_spark
    from harness import BOUNDED, WALL_CLOCK, Ops, end_to_end, timed_phase, warm_up
    from probes import CpuProbe, fs_type, versions

    if not os.path.abspath(pravega_spark.__file__).startswith(REPO + os.sep):
        raise SystemExit(f"pravega_spark is imported from {pravega_spark.__file__}, "
                         f"not from the checkout at {REPO}")

    workload, spark = build(name, seed, size, workdir)
    try:
        warm_up(workload)
        one_time = time.time() - PROCESS_START
        probe = CpuProbe(children=spark is not None)
        ctx = {
            "workload": name, "seed": seed, "nproc": nproc(), "size": size,
            "versions": versions(), "store_fs": fs_type(workdir),
            "one_time_setup_s": one_time,
        }
        ops = Ops(probe)
        phase = timed_phase(workload, ops, seconds)
        ctx["untraced"] = _phase_context(ops, phase)
        attempted, failed = ops.attempted, ops.failed
        failures = [phase["check_failed"]]
        figures = end_to_end(workload, ops, one_time, phase)
        ctx["untraced"]["wall_clock"] = {k: figures[k][0] for k in WALL_CLOCK}
        metrics = {k: figures[k] for k in BOUNDED}
        if trace and not phase["check_failed"]:
            from tracer import Tracer

            tracer = Tracer(spark)
            tops = Ops(probe, tracer)
            workload.stored_bytes = workload.user_bytes = 0
            tracer.install()
            try:
                tphase = timed_phase(workload, tops, seconds)
            finally:
                tracer.uninstall()
            ctx["traced"] = _phase_context(tops, tphase)
            attempted, failed = attempted + tops.attempted, failed + tops.failed
            failures.append(tphase["check_failed"])
            traced = end_to_end(workload, tops, one_time, tphase)
            ctx["traced"]["wall_clock"] = {k: traced[k][0] for k in WALL_CLOCK}
            metrics = tracer.layer_metrics(tops, untraced=figures, traced=traced)
            ctx["traced"]["spark_per_op"] = tracer.spark_per_op()
        ctx["ops_attempted"], ctx["ops_failed"] = dict(attempted), dict(failed)
        correct = not any(failures)
    finally:
        if spark is not None:
            stop_spark(spark)
    result = {
        "correct": correct,
        "attempted": sum(attempted.values()),
        "failed": sum(failed.values()),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    return result, ctx


def _phase_context(ops, phase: dict) -> dict:
    from harness import timing_context

    return {"timings": timing_context(ops), "events": dict(ops.events),
            "timed_wall_s": ops.wall, **phase}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full",
                    help="tiny shrinks every round for the self-test")
    args = ap.parse_args(argv)

    workdir = os.path.join(REPO, ".storebench_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(workdir)
    try:
        configure_env(workdir)
        result, ctx = measure(args.workload, args.seed, args.seconds,
                              bool(args.trace), args.size, workdir)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(workdir))
        except OSError:
            pass  # another run still uses it
    print(json.dumps({"context": ctx}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
