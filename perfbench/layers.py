"""Per-layer metric names, units and the summaries that fill them.

Every traced run reports every name below; a layer the workload does
not exercise reads 0 (the prediction for a workload that bypasses it).
Time metrics are means: `*.self_ms` per span (the span's time minus its
child spans'), `learning.*_ms` per learn() call, other `*_ms` per call
of the wrapped function. The Spark metrics are medians over the ops of
one kind that launched at least one job."""

from __future__ import annotations

import statistics

from chain import STAGES

STORE_TABLES = ["heuristics", "outcomes", "domain_knowledge", "anti_patterns", "preferences"]
SPARK_OPS = ["retrieve", "retrieve_ann", "retrieve_batch", "learn"]
SPARK_FIELDS = [
    ("jobs", "count"), ("stages", "count"), ("tasks", "count"),
    ("executor_cpu_ms", "ms"), ("shuffle_bytes", "bytes"),
]

PER_LAYER: list[tuple[str, str]] = (
    [
        ("engine.retrieve.self_ms", "ms"),
        ("engine.retrieve_batch.self_ms", "ms"),
        ("engine.learn.self_ms", "ms"),
        ("engine.cache.hit_ratio", "ratio"),
        ("embedding.encode_ms", "ms"),
        ("embedding.calls_per_op", "count"),
        ("serving_sql.compile_ms", "ms"),
        ("serving_sql.compiles_per_op", "count"),
        ("serving_sql.fallbacks", "count"),
        ("retrieval.calls_per_op", "count"),
        ("ann_index.search_ms", "ms"),
        ("ann_index.search_batch_ms", "ms"),
        ("ann_index.build_s", "s"),
        ("ann_index.recall_at_k", "ratio"),
        ("store.read_ms", "ms"),
        ("store.reads_per_op", "count"),
        ("store.append_ms", "ms"),
        ("store.upsert_ms", "ms"),
    ]
    + [(f"store.files.{t}", "count") for t in STORE_TABLES]
    + [(f"store.bytes_per_row.{t}", "bytes") for t in STORE_TABLES]
    + [
        ("learning.extract_heuristics_ms", "ms"),
        ("learning.extract_anti_patterns_ms", "ms"),
        ("learning.write_guard_ms", "ms"),
        ("streaming.trigger_ms", "ms"),
        ("streaming.add_batch_ms", "ms"),
        ("streaming.rows_per_batch", "count"),
        ("streaming.backlog_files", "count"),
    ]
    + [
        (f"chain.{s}.{f}", u)
        for s in STAGES
        for f, u in (("s", "s"), ("rows_out", "count"),
                     ("shuffle_bytes", "bytes"), ("executor_cpu_s", "s"))
    ]
    + [(f"spark.{op}.{f}", u) for op in SPARK_OPS for f, u in SPARK_FIELDS]
    + [
        ("ops.error_ratio", "ratio"),
        ("trace.untraced_items_per_s", "1/s"),
        ("trace.traced_items_per_s", "1/s"),
        ("trace.overhead_ratio", "ratio"),
    ]
)


def empty() -> dict[str, float]:
    return {name: 0.0 for name, _ in PER_LAYER}


def _mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def engine_layers(out: dict, tracer, records, jobs, op_kinds, single_kinds) -> None:
    """Fill the engine, embedding, serving_sql, retrieval, ann_index,
    store, learning and spark metrics from the spans of traced ops and
    the job groups of all op `records`. `op_kinds` maps op kinds to the
    Spark op names above; `single_kinds` are the single-slice retrieve
    kinds the cache hit ratio is taken over."""
    selfs = tracer.self_times()
    durs = tracer.durations()
    n_traced = max(1, len(tracer.traced_ops()))
    n_learn = max(1, len(tracer.traced_ops({"learn"})))

    def per_op(*names, n=n_traced):
        return sum(len(durs.get(x, ())) for x in names) / n

    out["engine.retrieve.self_ms"] = _mean(selfs.get("engine.retrieve", ()))
    out["engine.retrieve_batch.self_ms"] = _mean(selfs.get("engine.retrieve_batch", ()))
    out["engine.learn.self_ms"] = _mean(selfs.get("engine.learn", ()))
    out["embedding.encode_ms"] = _mean(durs.get("embedding.encode", ()))
    out["embedding.calls_per_op"] = per_op("embedding.encode")
    out["serving_sql.compile_ms"] = _mean(durs.get("serving_sql.compile", ()))
    out["serving_sql.compiles_per_op"] = per_op("serving_sql.compile")
    out["serving_sql.fallbacks"] = float(
        tracer.errors("serving_sql.serve", "ServingSQLUnsupported")
    )
    out["retrieval.calls_per_op"] = per_op(
        "retrieval.retrieve_type", "retrieval.score_memories"
    )
    out["ann_index.search_ms"] = _mean(durs.get("ann_index.search", ()))
    out["ann_index.search_batch_ms"] = _mean(durs.get("ann_index.search_batch", ()))
    out["store.read_ms"] = _mean(durs.get("store.read", ()))
    out["store.reads_per_op"] = per_op("store.read")
    out["store.append_ms"] = _mean(durs.get("store.append", ()))
    out["store.upsert_ms"] = _mean(durs.get("store.upsert", ()))
    for name in ("extract_heuristics", "extract_anti_patterns", "write_guard"):
        out[f"learning.{name}_ms"] = sum(durs.get(f"learning.{name}", ())) / n_learn

    jobs.drain()
    by_kind: dict[str, list[dict]] = {}
    hits = singles = 0
    for r in records:
        if not r["ok"] or r["gid"] is None:
            continue
        st = jobs.stats(r["gid"])
        if r["kind"] in single_kinds:
            singles += 1
            hits += st["jobs"] == 0
        if st["jobs"] and r["kind"] in op_kinds:
            by_kind.setdefault(op_kinds[r["kind"]], []).append(st)
    out["engine.cache.hit_ratio"] = hits / singles if singles else 0.0
    for op, stats in by_kind.items():
        for f, _ in SPARK_FIELDS:
            out[f"spark.{op}.{f}"] = float(statistics.median(s[f] for s in stats))


def store_layers(out: dict, layout: dict) -> None:
    for t, v in layout.items():
        out[f"store.files.{t}"] = float(v["files"])
        out[f"store.bytes_per_row.{t}"] = v["bytes"] / v["rows"] if v["rows"] else 0.0


def overhead(out: dict, runner, kinds, callers: int) -> None:
    """Traced vs untraced throughput from the same run: ops alternate
    between traced and untraced, and each side's rate is its items over
    the caller time its ops took, times the number of callers."""
    rates = {}
    for traced in (False, True):
        recs = [r for r in runner.of(*kinds) if r["traced"] == traced]
        busy = sum(r["ms"] for r in recs) / 1000.0
        rates[traced] = callers * sum(r["items"] for r in recs) / busy if busy else 0.0
    out["trace.untraced_items_per_s"] = rates[False]
    out["trace.traced_items_per_s"] = rates[True]
    out["trace.overhead_ratio"] = rates[False] / rates[True] if rates[True] else 0.0


def streaming_layers(out: dict, progress, due, in_batch, batch_at) -> None:
    """Micro-batch trigger and addBatch times and input rows from the
    query's public progress reports (batches of the measured files
    only), and the mean backlog: at each file's due time, how many due
    files the sink had not yet delivered."""
    measured = {in_batch[f] for f in due if f in in_batch}
    rows = [p for p in progress if p.batchId in measured and p.numInputRows > 0]
    if rows:
        out["streaming.trigger_ms"] = float(
            statistics.median(p.durationMs.get("triggerExecution", 0) for p in rows)
        )
        out["streaming.add_batch_ms"] = float(
            statistics.median(p.durationMs.get("addBatch", 0) for p in rows)
        )
        out["streaming.rows_per_batch"] = float(
            statistics.median(p.numInputRows for p in rows)
        )
    done = {f: batch_at.get(in_batch.get(f), float("inf")) for f in due}
    out["streaming.backlog_files"] = _mean(
        sum(1 for f, d in due.items() if d <= t < done[f]) for t in due.values()
    )
