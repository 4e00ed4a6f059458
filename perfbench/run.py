"""Benchmark entry point.

    python3 perfbench/run.py --workload kmeans_sweep --seed 1 --seconds 5 --trace 0

Runs one workload closed-loop with one client on ``local[4]`` against
the engine in the checkout this file sits in, and prints one JSON
result line last on stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end metrics of
BENCHMARK.json; with ``--trace 1`` the per-layer ones, from passes run
with spans on, alternated with passes run with spans off for the
tracing overhead. The line before it is a ``{"detail": ...}`` object
with everything else: every end-to-end figure under ``e2e`` (also
``run_s``, op latency median and tail, ingest and probe latency, space
amplification, fail fraction), per-pass times, the host calibration
and the warm-up record. A traced run also writes
its span trace to ``perfbench/out/trace-<workload>-seed<seed>.json``;
``perfbench/show_trace.py`` prints it.

``--workload all`` runs every workload, each in its own process, and
prints every workload's metrics.

Each run makes its inputs from ``--seed`` and sets up ``SETUP_REPS``
times, each set-up in a JVM of its own (the previous one is stopped
first, untimed), and reports the median as ``setup_s``. It then warms
up and runs timed passes until ``--seconds`` have elapsed, at least
``MIN_TIMED_PASSES`` of them, and reports their median wall time as
``run_s`` and their median CPU time (this process, its JVM and their
workers) as ``cpu_s``. Each pass also records the share of the
machine's CPU time the hypervisor stole meanwhile, which is what moves
wall times most on a shared virtual machine.
All scratch state lives under ``perfbench/out/run-<pid>`` and is
removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(HERE, "out")


WORKLOAD_NAMES = ("kmeans_sweep", "query_mix", "ingest_serve")


def load_contract() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def run_all(args) -> int:
    """Every workload in its own process; one merged result line with
    every end-to-end figure (the contract's and the workload-specific
    ones), also printed as a table on stderr."""
    merged = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for name in WORKLOAD_NAMES:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", name,
               "--seed", str(args.seed), "--seconds", str(args.seconds),
               "--trace", str(args.trace)]
        proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True, timeout=600)
        lines = [ln for ln in proc.stdout.splitlines() if ln.strip()]
        if proc.returncode != 0 or not lines:
            print(f"{name}: exit {proc.returncode}", file=sys.stderr)
            return 1
        res = json.loads(lines[-1])
        detail = json.loads(lines[-2])["detail"]
        merged["correct"] &= res["correct"]
        merged["attempted"] += res["attempted"]
        merged["failed"] += res["failed"]
        shown = detail["e2e"] if not args.trace else res["metrics"]
        for k, v in shown.items():
            merged["metrics"][f"{name}.{k}"] = v
            print(f"{name:14s} {k:40s} {v['value']:14.6g} {v['unit']}", file=sys.stderr)
    print(json.dumps(merged))
    return 0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=(*WORKLOAD_NAMES, "all"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    # the engine under test is the checkout's own copy, never an install
    if not os.path.isfile(os.path.join(ROOT, "hadoop_project_spark", "__init__.py")):
        print(f"no hadoop_project_spark package in {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    contract = load_contract()
    if args.workload == "all":
        return run_all(args)

    import harness
    import runner

    # a terminating signal unwinds through the finally blocks below, so
    # the Spark context and its JVM stop and the scratch tree goes away
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    paths = None
    try:
        paths = harness.make_scratch(OUT)
        paths["out"] = OUT
        result, detail = runner.run(args, contract, paths)
    finally:
        harness.stop_jvm()
        if paths is not None:
            shutil.rmtree(paths["run"], ignore_errors=True)
    print(json.dumps({"detail": detail}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
