#!/usr/bin/env python3
"""Benchmark of the two-phase ad-query engine and its corpus operators.

    python3 perfbench/run.py --workload ad_mixed --seed 1 --seconds 15 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 15

One workload per process, in a fresh Spark session (``local[nproc]``,
one closed-loop client), on inputs generated from ``--seed`` inside a
scratch directory of the checkout that is removed at exit. The last
line of standard output is one JSON object: the end-to-end metrics with
``--trace 0``, the per-layer metrics of the traced run with
``--trace 1``. ``--workload all`` runs every workload untraced and then
traced, each in its own process, prints both tables and the tracing
overhead. The exit code is non-zero when any answer is wrong.
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
PACKAGE = "query_planner_optimizer_spark"
WORKLOADS = ("ad_mixed", "corpus_ops")


def _workload_class(name: str):
    if name == "ad_mixed":
        from ad_mixed import AdMixed

        return AdMixed
    from corpus_ops import CorpusOps

    return CorpusOps


def _print_metrics(title: str, metrics: dict, samples: dict) -> None:
    print(f"# {title}")
    for name, m in metrics.items():
        n = samples.get(name)
        count = f"  (n={n})" if n is not None else ""
        print(f"{name:36s} {m['value']:>16.6g} {m['unit']}{count}")


def run_one(args) -> int:
    from harness import END_TO_END_UNITS, PER_LAYER_UNITS, run_workload
    from inputs import SIZES

    work = os.path.join(ROOT, ".perfbench_work",
                        f"{args.workload}-{os.getpid()}")
    os.makedirs(work)
    try:
        result = run_workload(
            _workload_class(args.workload), work, args.seed, args.seconds,
            bool(args.trace), SIZES[args.scale],
            inject_wrong=args.inject_wrong)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        parent = os.path.dirname(work)
        if not os.listdir(parent):
            os.rmdir(parent)

    n = result["steady_samples"]
    samples = {"setup_s": 1, "cold_pass_s": 1, "op_p50_ms": n,
               "op_p90_ms": n, "ops_per_s": n,
               "ingest_rows_per_s": result["steady_passes"]}
    if args.trace:
        values, units = result["layers"], PER_LAYER_UNITS
    else:
        values, units = result["e2e"], END_TO_END_UNITS
    metrics = {k: {"value": values[k], "unit": units[k]} for k in units}
    ratio = result["failed"] / result["attempted"]
    _print_metrics(f"{args.workload} seed={args.seed} trace={args.trace} "
                   f"passes={result['steady_passes']}", metrics, samples)
    print(f"{'failed_ops_ratio':36s} {ratio:>16.6g} ratio  "
          f"(n={result['attempted']})")
    for kind, (p50, count) in sorted(result["kinds"].items()):
        print(f"{'  p50 ' + kind:36s} {p50:>16.6g} ms  (n={count})")
    correct = result["failed"] == 0
    print(json.dumps({"correct": correct, "attempted": result["attempted"],
                      "failed": result["failed"], "metrics": metrics}))
    return 0 if correct else 1


def run_all(args) -> int:
    """Every workload untraced then traced, one process each."""
    status = 0
    summary = {}
    for name in WORKLOADS:
        out = {}
        for trace in (0, 1):
            cmd = [sys.executable, os.path.abspath(__file__), "--workload",
                   name, "--seed", str(args.seed), "--seconds",
                   str(args.seconds), "--trace", str(trace), "--scale",
                   args.scale]
            proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True,
                                  check=False)
            lines = proc.stdout.strip().splitlines() or [""]
            done = lines[-1].startswith("{")
            print("\n".join(lines[:-1] if done else lines))
            status = status or proc.returncode
            out[trace] = json.loads(lines[-1]) if done else None
        if out[0] and out[1]:
            untraced = out[0]["metrics"]["op_p50_ms"]["value"]
            traced = out[1]["metrics"]["trace.op_p50_ms"]["value"]
            print(f"{'tracing_overhead_p50':36s} "
                  f"{(traced - untraced) / untraced:>16.6g} ratio  "
                  f"(traced {traced:.1f} ms vs untraced {untraced:.1f} ms)")
        summary[name] = out
    print(json.dumps(summary))
    return status


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True,
                   choices=WORKLOADS + ("all",))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", choices=("full", "tiny"), default="full",
                   help="input sizes; tiny is for the smoke tests")
    p.add_argument("--inject-wrong", action="store_true",
                   help="corrupt one recorded answer before checking "
                        "(tests that the check counts it)")
    args = p.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: package {PACKAGE!r} not found next to "
              f"{HERE}; run from a full checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    # A terminated run still stops Spark and removes its scratch space.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if args.workload == "all":
        return run_all(args)
    return run_one(args)


if __name__ == "__main__":
    sys.exit(main())
