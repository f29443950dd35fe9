#!/usr/bin/env python3
"""Benchmark driver: one workload, one seed, one closed-loop client.

    python3 perfbench/run.py --workload sync --seed 1 --trace 0

Run from the repository root. Inputs are generated from ``--seed``
before anything is timed; the session is ``session.get_spark()`` with
its defaults on ``local[<cores>]``. Each workload runs a fixed amount of
work (see the constants in ``workloads.py``); ``--seconds`` is accepted
for a harness that passes it and changes nothing. Every file the run
writes lands in ``.perfbench_work/`` (wiped per run) and
``.perfbench_out/`` (kept).

The last stdout line is the result: ``{"correct", "attempted",
"failed", "metrics"}`` with the end-to-end metrics under ``--trace 0``
and the per-layer metrics under ``--trace 1``. The line before it is
the context: host spin-probe factors and CPU time stolen by the host,
cores, seed, ``failed_frac``, ``peak_rss_mb``, the wall-clock op
latencies and rates, and under ``--trace 1`` every further layer metric
the workload measured.
Exit code 0 iff every correctness gate passed.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
OUT = os.path.join(ROOT, ".perfbench_out")

#: Set-up repetitions per run; setup_s is their median.
SETUP_REPS = 3

END_TO_END = {
    "setup_s": "s", "op_cpu_p50_s": "s", "changes_per_cpu_s": "1/s",
    "stored_bytes_per_row": "B/row",
}
#: Wall-clock rates and latencies, on the context line: other tenants
#: of the host move them by a third from one run to the next.
WALL = {"op_p50_s": "s", "op_tail_s": "s", "ops_per_min": "1/min", "changes_per_s": "1/s"}

#: Per-layer metrics that both write workloads measure: the result
#: line's metrics under --trace 1. Every other layer metric a workload
#: measures goes to the context line's "layers".
RESULT_LAYERS = (
    "session.get_spark_s", "cli.validate_s", "envelope.decode_s",
    "envelope.records", "merge.rows_written_per_change", "replica.files_live",
    "spark.jobs", "spark.stages", "spark.tasks", "spark.executor_run_s",
    "spark.executor_cpu_s", "spark.gc_s", "spark.shuffle_write_bytes",
    "spark.shuffle_read_bytes", "spark.input_bytes", "spark.output_bytes",
    "spark.output_records", "peak_rss_mb", "trace.overhead_frac",
)


def _isolate() -> None:
    """Keep every byte the run writes inside the checkout and size the
    session to this host's cores (environment only — the session itself
    is get_spark()'s defaults)."""
    shutil.rmtree(WORK, ignore_errors=True)
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp)
    os.makedirs(os.path.join(WORK, "spark-local"))
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = (
        os.environ.get("JAVA_TOOL_OPTIONS", "") + f" -Djava.io.tmpdir={tmp}"
    ).strip()
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    os.chdir(WORK)  # spark-warehouse / metastore_db, if any, land here
    sys.path.insert(0, ROOT)


def _stop(spark) -> None:
    """Stop the session, then the gateway JVM, and wait for it to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def layer_unit(name: str) -> str:
    if name.endswith("_bytes") or name == "replica.bytes_written":
        return "B"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("_s"):
        return "s"
    if name.endswith(("_ratio", "_per_change", "_frac")):
        return "ratio"
    return "count"


def per_layer(ctx, block, untraced, facts, rss) -> dict[str, float]:
    """Every layer metric the traced block measured: mean seconds per
    call of each layer span, per-op counts and ratios, the engine
    counters per op, and peak resident memory."""
    from harness import SPARK_COUNTERS, median

    tr = ctx.tracer
    c = tr.counts
    m = {f"{name}_s": tr.mean_s(name)
         for name in sorted({s["name"] for s in tr.spans})
         if not name.startswith("op.")}
    records = c.get("envelope.records", 0.0)
    if records:
        m["envelope.records"] = records / c["envelope.ops"]
        m["merge.rows_written_per_change"] = ctx.spark_totals["output_records"] / records
    if "merge.compacted" in c:
        m["merge.compact_ratio"] = c["merge.compacted"] / records
    if "replica.commits" in c:
        m["replica.bytes_written"] = c["replica.bytes_written"] / c["replica.commits"]
        m["replica.dirs_reclaimed"] = c["replica.dirs_reclaimed"] / c["replica.commits"]
    if "stream.batches" in c:
        m["stream.trigger_overhead_s"] = c["stream.trigger_overhead_s"] / c["stream.batches"]
    if "files_live" in facts:
        m["replica.files_live"] = float(facts["files_live"])
    for k in SPARK_COUNTERS:
        m[f"spark.{k}"] = ctx.spark_totals.get(k, 0.0) / max(ctx.traced_ops, 1)
    base = median(untraced.ops)
    m["peak_rss_mb"] = rss
    m["trace.overhead_frac"] = (median(block.ops) - base) / base
    m["trace.ops"] = float(len(block.ops))
    return m


def main(argv=None) -> int:
    from workloads import WORKLOADS, WRITES, Ctx

    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=list(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=None,
                    help="accepted and ignored: each workload runs a fixed amount of work")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    _isolate()
    import canvas_data_2_aws_spark

    if not os.path.abspath(canvas_data_2_aws_spark.__file__).startswith(ROOT + os.sep):
        print("canvas_data_2_aws_spark is not part of this checkout", file=sys.stderr)
        return 2
    from tools.check_oracle import _REF_SPIN_S, spin_probe

    from harness import Tracer, jvm_pid, median, steal_s, tail, vm_hwm_mb

    traced = bool(args.trace)
    tracer = Tracer(f"{args.workload}-seed{args.seed}-pid{os.getpid()}", traced)
    ctx = Ctx(args.seed, WORK, tracer)
    wl = WORKLOADS[args.workload](ctx, blocks=2 if traced else 1)

    spin_start = spin_probe()
    t0 = time.perf_counter()
    wl.generate()
    gen_s = time.perf_counter() - t0
    try:
        # Each repetition sets up again on a fresh session (the JVM,
        # with its JIT and codegen caches, is shared); the measured ops
        # run on the last one. Repetition 0 starts the JVM, so it is
        # the slowest and the median is a warm set-up.
        setups = []
        for rep in range(SETUP_REPS):
            t0 = time.perf_counter()
            wl.setup(rep)
            setups.append(time.perf_counter() - t0)
        tracer.enabled = False
        t0 = time.perf_counter()
        wl.warm()
        warm_s = time.perf_counter() - t0
        untraced = wl.measure(False) if traced else None
        tracer.enabled = traced
        if traced:
            ctx.counters.take()
        steal0 = steal_s()
        block = wl.measure(traced)
        stolen = steal_s() - steal0
        facts = wl.verify()
        pid = jvm_pid(ctx.spark)
        rss = vm_hwm_mb() + (vm_hwm_mb(pid) if pid else 0.0)
    finally:
        if ctx.spark is not None:
            _stop(ctx.spark)
    spin_end = spin_probe()

    writes = args.workload in WRITES  # changes_per_* and stored bytes
    wall = {
        "op_p50_s": median(block.ops),
        "op_tail_s": tail(block.ops),
        "ops_per_min": 60.0 * len(block.ops) / block.wall,
    }
    if writes:
        wall["changes_per_s"] = block.records / block.wall
    layers: dict[str, float] = {}
    if traced:
        values = per_layer(ctx, block, untraced, facts, rss)
        layers = {k: v for k, v in values.items() if k not in RESULT_LAYERS}
        values = {k: v for k, v in values.items() if k in RESULT_LAYERS}
        units = {k: layer_unit(k) for k in values}
        tracer.dump(os.path.join(OUT, f"trace-{args.workload}-seed{args.seed}.json"))
    else:
        values = {"setup_s": median(setups), "op_cpu_p50_s": median(block.cpu)}
        if writes:
            values["changes_per_cpu_s"] = block.records / block.cpu_total
            values["stored_bytes_per_row"] = facts["stored_bytes_per_row"]
        units = END_TO_END
    context = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "nproc": len(os.sched_getaffinity(0)),
        "spin_start_s": spin_start, "spin_end_s": spin_end,
        "host_factor": (spin_start + spin_end) / 2.0 / _REF_SPIN_S,
        "failed_frac": ctx.failed / max(ctx.attempted, 1), "peak_rss_mb": rss,
        "gen_s": gen_s, "oracle_s": getattr(wl, "oracle_s", 0.0),
        "setup_reps_s": setups, "warm_s": warm_s, "ops": len(block.ops), "ops_s": block.ops,
        "wall_s": block.wall, "ops_cpu_s": block.cpu, "cpu_s": block.cpu_total,
        "stolen_s": stolen,
        "wall": {k: {"value": v, "unit": WALL[k]} for k, v in wall.items()},
        "errors": ctx.errors,
        "layers": {k: {"value": v, "unit": layer_unit(k)} for k, v in layers.items()},
    }
    result = {
        "correct": ctx.failed == 0,
        "attempted": ctx.attempted,
        "failed": ctx.failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in values.items()},
    }
    os.makedirs(OUT, exist_ok=True)
    with open(os.path.join(OUT, f"result-{args.workload}-seed{args.seed}"
                                f"-trace{args.trace}.json"), "w") as fh:
        json.dump({"context": context, "result": result}, fh, indent=1)
    print(json.dumps({"context": context}))
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
