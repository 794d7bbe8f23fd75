#!/usr/bin/env python3
"""Self-test of the store benchmark: tiny rounds of every workload, each
run untraced and traced, with all output checks, plus the contract of
the printed result.

Usage (from the repository root, about three minutes)::

    python3 storebench/selftest.py

It checks that every run is correct with zero failed operations, that
the untraced run prints exactly the end-to-end metrics and the traced
run exactly the per-layer metrics of ``BENCHMARK.json`` (with their
units), that ``tracer.LAYER_METRICS`` and ``BENCHMARK.json`` agree, and
that the benchmark fails without printing a result when the engine
package is absent.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from tracer import LAYER_METRICS  # noqa: E402


def _run(cwd: str, workload: str, trace: int) -> subprocess.CompletedProcess:
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    return subprocess.run(
        [sys.executable, os.path.join(cwd, "storebench", "run.py"), "--workload", workload,
         "--seed", "7", "--seconds", "0", "--trace", str(trace), "--size", "tiny"],
        cwd=cwd, env=env, capture_output=True, text=True, timeout=600,
    )


def _check_result(proc, workload: str, trace: int, expected: dict) -> list[str]:
    where = f"{workload} --trace {trace}"
    if proc.returncode != 0:
        return [f"{where}: exit {proc.returncode}\n{proc.stderr[-3000:]}"]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    errors = []
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        errors.append(f"{where}: result keys {sorted(result)}")
    if result.get("correct") is not True:
        ctx = json.loads(proc.stdout.strip().splitlines()[-2])["context"]
        errors.append(f"{where}: not correct: {ctx.get('untraced', {}).get('check_failed')}"
                      f" / {ctx.get('traced', {}).get('check_failed')}")
    if result.get("failed") != 0 or not result.get("attempted", 0) >= 1:
        errors.append(f"{where}: attempted {result.get('attempted')} failed {result.get('failed')}")
    metrics = result.get("metrics", {})
    if set(metrics) != set(expected):
        errors.append(f"{where}: metric names differ: "
                      f"{sorted(set(metrics) ^ set(expected))}")
    for name, m in metrics.items():
        if m.get("unit") != expected.get(name) or not math.isfinite(m.get("value", math.nan)):
            errors.append(f"{where}: metric {name} = {m}")
    return errors


def main() -> int:
    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        bench = json.load(f)
    errors = []
    per_layer = {m["name"]: m["unit"] for m in bench["per_layer"]}
    if list(per_layer.items()) != LAYER_METRICS:
        errors.append("tracer.LAYER_METRICS and BENCHMARK.json per_layer differ")
    end_to_end = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    for w in (wl["name"] for wl in bench["workloads"]):
        for trace, expected in ((0, end_to_end), (1, per_layer)):
            errs = _check_result(_run(REPO, w, trace), w, trace, expected)
            print(f"{w} --trace {trace}: {'ok' if not errs else 'FAILED'}", flush=True)
            errors += errs

    # without the engine package the run must fail and print no result
    bare = os.path.join(REPO, ".storebench_work", f"selftest-bare-{os.getpid()}")
    try:
        os.makedirs(bare)
        shutil.copy(os.path.join(REPO, "BENCHMARK.json"), bare)
        shutil.copytree(HERE, os.path.join(bare, "storebench"),
                        ignore=shutil.ignore_patterns("__pycache__"))
        proc = _run(bare, "hot_pubsub", 0)
        ok = proc.returncode != 0 and '"metrics"' not in proc.stdout
        if not ok:
            errors.append("a run without the pravega_spark package did not fail cleanly")
        print(f"no-package run: {'ok' if ok else 'FAILED'}", flush=True)
    finally:
        shutil.rmtree(bare, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(bare))
        except OSError:
            pass  # a benchmark run still uses it

    for e in errors:
        print(e, file=sys.stderr)
    print("selftest:", "FAILED" if errors else "ok")
    return 1 if errors else 0


if __name__ == "__main__":
    sys.exit(main())
