"""Agent-memory benchmark: one command for the `serve_learn` and
`prep_chain` workloads of alma_memory_spark.

    python3 perfbench/run.py --workload serve_learn --seed 1 --seconds 24 --trace 0

Run from the repository root. Inputs are generated from --seed; each
run starts a fresh Spark session (local[4]) and a freshly generated
store or corpus under .perfbench_work/, checks every output, and prints
as its last stdout line one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

--trace 0 reports the end-to-end metrics of BENCHMARK.json; --trace 1
installs span wrappers around the program's layer functions, runs each
op under its own Spark job group, and reports the per-layer metrics.
The end-to-end metrics mean, per workload:

    metric            serve_learn                  prep_chain
    setup_s           session, store + IVF index,  session, corpus
                      both phases' warm-ups
    throughput_per_s  memory slices returned per   input documents per
                      second (serving phase)       second of chain
    latency_p50_ms    exact retrieve() median      chain wall time
                      over slice-cache misses
                      (serving phase)
    cpu_ms_per_op     CPU of the process tree per completed op
                      (serving phase)              (one chain)
    peak_rss_mb       high-water resident memory of the driver, the JVM
                      and the Python workers (shared pages counted once)

The line before the result holds the host context (nproc, PySpark
version, seed, the 1-wide CPU calibration) and the workload's detailed
figures: tails with their percentile and sample count, ANN, batch,
learn, read-under-write and ingest-lag latencies, and per-stage chain
times. The exit code is non-zero when any output check fails.

How the layers interact with the end-to-end figures:
- a faster layer saves at most its share of a cache miss's blocking
  chain: encode, SQL compile/bind, one Spark job, driver row split.
  Under two callers on four task slots, freed CPU can raise throughput
  by more than that share;
- in the learn phase the stream sink's appends lengthen store.append_ms
  for learn(), and growth in store.files.outcomes drags reads up;
- on prep_chain, minhash_neardup (about a third of the chain) bounds
  what any other stage can give.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import time
import types

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

WORKLOADS = ("serve_learn", "prep_chain")


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def import_program():
    """Import alma_memory_spark from this checkout, never from anywhere
    else on the path."""
    sys.path.insert(0, ROOT)
    import alma_memory_spark

    where = os.path.dirname(os.path.abspath(alma_memory_spark.__file__))
    if os.path.dirname(where) != ROOT:
        raise ImportError(f"alma_memory_spark imported from {where}, not {ROOT}")
    return alma_memory_spark


def metric_specs() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return {
        0: {m["name"]: m["unit"] for m in spec["end_to_end"]},
        1: {m["name"]: m["unit"] for m in spec["per_layer"]},
    }


def stop_spark(spark) -> None:
    """Stop the session, then end the JVM: it exits when the pipe to its
    stdin closes, and is waited for."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    jvm = getattr(gw, "proc", None)
    if jvm is not None:
        jvm.stdin.close()
        jvm.wait(timeout=60)


def _deadline(signum, frame):
    raise TimeoutError(f"run exceeded {RUN_LIMIT_S} s")


#: hard limit on one run; the Spark session is still stopped on expiry
RUN_LIMIT_S = 170


def main(argv=None) -> int:
    args = parse_args(argv)
    signal.signal(signal.SIGALRM, _deadline)
    signal.alarm(RUN_LIMIT_S)
    specs = metric_specs()
    import proc

    calib = proc.calibration_1w()  # outside every timed region
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    import common

    common.prepare_env(common.fresh_dir(work), bool(args.trace))
    import_program()
    import importlib

    import pyspark

    import sparkstats
    from spans import Tracer

    module = importlib.import_module(args.workload)
    rss = proc.RssSampler()
    t0 = time.perf_counter()
    spark = common.start_spark()
    session_s = time.perf_counter() - t0
    rss.start()
    try:
        ctx = types.SimpleNamespace(
            spark=spark,
            seed=args.seed,
            seconds=args.seconds,
            trace=bool(args.trace),
            tracer=Tracer(),
            jobs=sparkstats.JobGroups(spark) if args.trace else None,
            work=work,
            store_root=os.path.join(work, "store"),
            cpu=proc.tree_cpu_seconds,
        )
        res = module.run(ctx)
        if args.trace:
            ctx.tracer.dump(os.path.join(os.path.dirname(work), f"spans-{args.workload}.jsonl"))
    finally:
        rss.stop()
        stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)

    e2e = dict(res["e2e"])
    e2e["setup_s"] = session_s + res["setup_s"]
    e2e["peak_rss_mb"] = rss.peak / 2**20
    metrics = e2e if not args.trace else res["layers"]
    units = specs[args.trace]
    if set(metrics) != set(units):
        raise RuntimeError(f"metric set drifted from BENCHMARK.json: {sorted(set(metrics) ^ set(units))}")
    context = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "nproc": os.cpu_count(),
        "spark_slots": common.CPUS,
        "pyspark": pyspark.__version__,
        "calib_1w": round(calib, 4),
        "session_start_s": session_s,
        "detail": res["detail"],
        "errors": res["errors"],
        "problems": res["problems"][:10],
        "unpatched": ctx.tracer.missing,
    }
    print("context " + json.dumps(context, default=float), flush=True)
    out = {
        "correct": not res["problems"],
        "attempted": int(res["attempted"]),
        "failed": int(res["failed"]),
        "metrics": {
            k: {"value": float(metrics[k]), "unit": units[k]} for k in sorted(units)
        },
    }
    print(json.dumps(out), flush=True)
    return 0 if out["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
