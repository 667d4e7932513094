#!/usr/bin/env python3
"""Benchmark entry point: one workload run in one fresh worker process.

    python3 perfbench/run.py --workload hbase_mr --seed 1 --seconds 12 --trace 0

Builds the input tables once per checkout (``.bench_data/``), starts
``perfbench/worker.py`` in a new process with the repository on
``PYTHONPATH`` (so Spark's Python workers can import the package too),
and prints the worker's result as the last stdout line:
``{"correct", "attempted", "failed", "metrics"}``.  With ``--trace 0``
the metrics are the end-to-end ones, with ``--trace 1`` the per-layer
ones.  Exits non-zero, without a result line, when the run fails.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BENCH_DATA = os.path.join(ROOT, ".bench_data")
WORKER_TIMEOUT_S = 150

sys.path.insert(0, HERE)

from gen_data import generate  # noqa: E402
from workloads import WORKLOADS  # noqa: E402


def _stop_group(pgid: int, grace_s: float = 5.0) -> None:
    """Wait for every process of the worker's group (the Spark JVM exits
    once the worker closes its gateway pipe), killing stragglers after
    ``grace_s``."""
    for sig in (0, signal.SIGKILL):
        deadline = time.monotonic() + grace_s
        while time.monotonic() < deadline:
            try:
                os.killpg(pgid, sig)
            except ProcessLookupError:
                return
            time.sleep(0.1)


def main() -> int:
    ap = argparse.ArgumentParser(description="hbasemapreduce_spark job benchmark")
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "hbasemapreduce_spark")):
        print(f"no hbasemapreduce_spark package under {ROOT}", file=sys.stderr)
        return 2
    data_dir = generate(os.path.join(BENCH_DATA, "data", "sf0.1"))
    os.makedirs(os.path.join(BENCH_DATA, "tmp"), exist_ok=True)
    result_path = os.path.join(BENCH_DATA, f"result-{os.getpid()}.json")
    env = dict(os.environ)
    env["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, env.get("PYTHONPATH")) if p)
    env["TMPDIR"] = os.path.join(BENCH_DATA, "tmp")
    env["SPARK_LOCAL_DIRS"] = os.path.join(BENCH_DATA, "spark-local")
    cmd = [
        sys.executable, os.path.join(HERE, "worker.py"),
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--data", data_dir, "--out", result_path,
        "--spawn-time", repr(time.time()),
    ]
    # own session, so a timeout can take down the JVM and Python workers too
    proc = subprocess.Popen(cmd, cwd=ROOT, env=env, start_new_session=True)
    try:
        rc = proc.wait(timeout=WORKER_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        print(f"worker exceeded {WORKER_TIMEOUT_S} s", file=sys.stderr)
        return 3
    finally:
        _stop_group(proc.pid)
    if rc != 0 or not os.path.exists(result_path):
        print(f"worker failed with exit code {rc}", file=sys.stderr)
        return 1
    with open(result_path) as f:
        result = json.load(f)
    os.remove(result_path)
    print(json.dumps(result, sort_keys=True))
    return 0


if __name__ == "__main__":
    sys.exit(main())
