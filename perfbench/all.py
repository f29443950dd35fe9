#!/usr/bin/env python3
"""Run every workload for one seed and print each metric by name and unit.

    python3 perfbench/all.py --seed 1 [--trace 1] [--workloads sync stream_sync]

Run from the repository root. Each workload runs in its own
``perfbench/run.py`` process, one after another. Prints, per workload,
``failed_frac``, ``peak_rss_mb``, every metric of the result line
(end-to-end under ``--trace 0``; per-layer, plus the context's further
layer metrics, under ``--trace 1``) and the wall-clock op latencies and
rates from the context line. Exit code 0 iff every workload ran and passed
every correctness gate.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def run_one(workload: str, seed: int, trace: int) -> tuple[dict, dict] | None:
    """(context, result) of one run.py process, or None if it printed none."""
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--trace", str(trace)],
        stdout=subprocess.PIPE, text=True,
    )
    lines = proc.stdout.strip().splitlines()
    try:
        context = json.loads(lines[-2])["context"]
        result = json.loads(lines[-1])
    except (IndexError, ValueError, KeyError):
        print(f"{workload}: no result (exit code {proc.returncode})")
        return None
    return context, result


def main(argv=None) -> int:
    sys.path.insert(0, HERE)
    from workloads import WORKLOADS

    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--workloads", nargs="+", choices=list(WORKLOADS),
                    default=list(WORKLOADS))
    args = ap.parse_args(argv)

    ok = True
    for workload in args.workloads:
        out = run_one(workload, args.seed, args.trace)
        if out is None:
            ok = False
            continue
        context, result = out
        ok &= result["correct"]
        print(f"== {workload}  seed={args.seed}  trace={args.trace}  "
              f"host_factor={context['host_factor']:.2f}  nproc={context['nproc']}")
        print(f"  {'failed_frac':<34} {context['failed_frac']:>16.4g} ratio"
              f"   ({result['failed']}/{result['attempted']})")
        if "peak_rss_mb" not in result["metrics"]:
            print(f"  {'peak_rss_mb':<34} {context['peak_rss_mb']:>16.6g} MB")
        for name, m in {**result["metrics"], **context["wall"],
                        **context["layers"]}.items():
            print(f"  {name:<34} {m['value']:>16.6g} {m['unit']}")
        for err in context["errors"]:
            print(f"  FAILED: {err}")
    print("all gates passed" if ok else "a correctness gate failed")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
