"""`serve_learn` workload: one generated store, served and then written.

The run's seconds are split in two phases on the same store:
1. serve (serve.py), SERVE_SHARE of the seconds: read-only serving
   from two closed-loop callers over the exact / ANN / batch /
   mode='auto' / user_id call mix, with a fixed share of repeated
   queries, so the slice cache, serving SQL, IVF probes and store
   reads are loaded and nothing writes;
2. learn and ingest (ingest.py), the rest: a writer alternating
   learn() and retrieve() calls beside an open-loop outcome stream on
   the same scopes, so store appends and upserts, learning, streaming
   and the reads they slow are loaded.

Set-up (store and IVF index build, each phase's warm-up) is timed as
setup_s and peak_rss_mb covers the whole run. Throughput, latency and
CPU per op come from the serving phase: on a 4-core host the learn
phase's few, seconds-long learn() calls and the stream beside them
swing its figures by a fifth or more from run to run, more than a gate
can bound. Its own figures (learn, read-under-write and ingest-lag
latencies, CPU per op) are reported in the detail line and feed the
per-layer metrics.
"""

from __future__ import annotations

import time

import common
import layers
import serve
from gen import Inputs
from ingest import IngestPhase

#: share of the run's seconds given to the serving phase
SERVE_SHARE = 3 / 4
SPARK_OPS = {"retrieve": "retrieve", "ann": "retrieve_ann",
             "batch": "retrieve_batch", "learn": "learn"}


def run(ctx) -> dict:
    t0 = time.perf_counter()
    inputs = Inputs(ctx.seed)
    pool = inputs.query_pool()
    gen_s = time.perf_counter() - t0

    t1 = time.perf_counter()
    eng = common.build_store(ctx.spark, inputs, ctx.store_root)
    t2 = time.perf_counter()
    eng.index_vectors("domain_knowledge")
    index_s = time.perf_counter() - t2
    problems: list[str] = []
    serve.warm_up(ctx, eng, inputs, problems)
    serve_setup_s = time.perf_counter() - t1

    if ctx.trace:
        ctx.tracer.install_engine_layers(eng)
    serve_s = ctx.seconds * SERVE_SHARE
    jit = ctx.spark._jvm.java.lang.management.ManagementFactory.getCompilationMXBean()
    jit0 = jit.getTotalCompilationTime()
    cpu0 = ctx.cpu()
    serve_runner, serve_wall = serve.measure(ctx, eng, pool, serve_s, problems)
    serve_cpu_s = ctx.cpu() - cpu0
    serve_jit_s = (jit.getTotalCompilationTime() - jit0) / 1000.0

    t3 = time.perf_counter()
    phase = IngestPhase(ctx, eng, inputs, ctx.seconds - serve_s)
    ingest_setup_s = time.perf_counter() - t3
    cpu0 = ctx.cpu()
    ingest_runner = phase.measure(pool, problems)
    ingest_cpu_s = ctx.cpu() - cpu0
    ingest = phase.finish(problems)
    ctx.tracer.restore()

    parity, recall = serve.check(ctx, pool)
    problems += parity

    records = serve_runner.records + ingest_runner.records
    ok = [r for r in records if r["ok"]]
    served = serve.summarize(serve_runner, serve_wall)
    detail = {
        **served,
        "ann_recall_at_k": recall,
        "serve_jit_compile_s": serve_jit_s,  # summed over the JIT threads
        "serve_cpu_s": serve_cpu_s,
        "serve_ops": len(serve_runner.of()),
        **ingest,
        # an ingested stream file counts as an op beside the calls
        "ingest_cpu_ms_per_op": 1000.0 * ingest_cpu_s
        / max(1, len(ingest_runner.of()) + len(phase.lags)),
        "setup_gen_s": gen_s,
        "setup_serve_s": serve_setup_s,
        "setup_index_s": index_s,
        "setup_ingest_s": ingest_setup_s,
    }
    result = {
        "setup_s": gen_s + serve_setup_s + ingest_setup_s,
        "e2e": {
            "throughput_per_s": served["slices_per_s"],
            "latency_p50_ms": served["retrieve_p50_ms"],
            "cpu_ms_per_op": 1000.0 * serve_cpu_s / max(1, len(serve_runner.of())),
        },
        "detail": detail,
        "attempted": len(records),
        "failed": len(records) - len(ok),
        "errors": [r["err"] for r in records if not r["ok"]][:5],
        "problems": problems,
    }
    if ctx.trace:
        out = layers.empty()
        layers.engine_layers(out, ctx.tracer, records, ctx.jobs, SPARK_OPS, serve.SINGLE_KINDS)
        layers.store_layers(out, common.store_layout(ctx.store_root, layers.STORE_TABLES))
        # the first serving caller is traced and the second is not
        layers.overhead(out, serve_runner, ["retrieve"], serve.CALLERS)
        phase.layers(out)
        out["ann_index.build_s"] = index_s
        out["ann_index.recall_at_k"] = recall
        out["ops.error_ratio"] = result["failed"] / max(1, result["attempted"])
        result["layers"] = out
    return result
