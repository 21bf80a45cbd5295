"""`prep_chain` workload: the training-data chain (chain.py) over a
seeded corpus with clone families, near duplicates, shared boilerplate
and a repeated passage, so every dedup stage has work to do. One op is
the whole chain, input to verified shards; a run makes as many chains
as fit in its seconds, at least one, each in a fresh Spark session's
first pass over the chain's query shapes (what a batch job pays)."""

from __future__ import annotations

import contextlib
import os
import time

import chain
import gen
import layers
import stats

N_DOCS = 300
SETUP_REPS = 3


def make_corpus(seed: int, work: str) -> tuple[str, "object", float]:
    """Generate and write the corpus SETUP_REPS times (the same bytes
    each time); returns its path, the bench frame and the median time."""
    times = []
    src = os.path.join(work, "docs.parquet")
    for _ in range(SETUP_REPS):
        t0 = time.perf_counter()
        docs = gen.documents(seed, N_DOCS)
        bench = gen.bench_docs(docs)
        docs.to_parquet(src, index=False)
        times.append(time.perf_counter() - t0)
    return src, bench, stats.median(times)


def check_chain(records: list[dict]) -> list[str]:
    """exact-dedup rows_out against a DuckDB count of distinct
    normalized texts, and the shard token total against the packed
    input's."""
    import duckdb

    by = {r["stage"]: r for r in records}
    problems = []
    con = duckdb.connect()
    want = con.execute(
        "SELECT count(DISTINCT regexp_replace(trim(lower(text)), "
        "'[ \\t\\n\\x0b\\f\\r]+', ' ', 'g')) FROM read_parquet(?)",
        [by["normalize"]["path"] + "/*.parquet"],
    ).fetchone()[0]
    if by["exact_dedup"]["rows_out"] != want:
        problems.append(
            f"exact_dedup kept {by['exact_dedup']['rows_out']} docs, DuckDB counts {want}"
        )
    packed = con.execute(
        "SELECT sum(n_bpe), count(*) FROM read_parquet(?)",
        [by["bpe_pack"]["path"] + "/*.parquet"],
    ).fetchone()
    shards = con.execute(
        "SELECT sum(n_bpe), count(*) FROM read_parquet(?, hive_partitioning = true)",
        [by["shards_verify"]["path"] + "/shard=*/*.parquet"],
    ).fetchone()
    if packed != shards:
        problems.append(f"shards hold (tokens, docs) {shards}, packed input {packed}")
    if not packed[1]:
        problems.append("the chain packed no documents")
    return problems


def run(ctx) -> dict:
    src, bench_pdf, setup_s = make_corpus(ctx.seed, ctx.work)
    bench = ctx.spark.createDataFrame(bench_pdf)
    problems: list[str] = []
    chains: list[dict] = []
    cpu0 = ctx.cpu()
    start = time.perf_counter()
    attempted = failed = 0
    # a chain is started only if one more, as long as the last, still
    # ends within the seconds: a run makes the same number of chains on
    # a host a little faster or slower
    last_s = 0.0
    while not chains or time.perf_counter() - start + last_s <= ctx.seconds:
        i = attempted
        attempted += 1
        instr = [0.0]

        @contextlib.contextmanager
        def on_stage(name, i=i, instr=instr):
            # in a traced run: one job group and one span per stage; the
            # time spent in this bookkeeping is the tracing overhead
            t = time.perf_counter()
            if ctx.jobs is not None:
                ctx.jobs.enter(f"pb-chain{i}-{name}")
            with ctx.tracer.op(f"chain.{name}", ctx.trace):
                instr[0] += time.perf_counter() - t
                try:
                    yield
                finally:
                    t = time.perf_counter()
                    if ctx.jobs is not None:
                        ctx.jobs.leave()
                    instr[0] += time.perf_counter() - t

        t0 = time.perf_counter()
        try:
            recs = chain.run_chain(
                ctx.spark, src, bench, os.path.join(ctx.work, f"chain{i}"), on_stage
            )
        except Exception as e:  # a failed chain counts, never raises
            failed += 1
            problems.append(f"chain {i} failed: {type(e).__name__}: {str(e)[:300]}")
            if time.perf_counter() - start >= ctx.seconds:
                break
            continue
        last_s = time.perf_counter() - t0
        chains.append({"i": i, "s": last_s, "recs": recs, "instr_s": instr[0]})
        problems += check_chain(recs)
    cpu_s = ctx.cpu() - cpu0

    walls = [c["s"] for c in chains]
    chain_s = stats.median(walls) if walls else 0.0
    first = chains[0]["recs"] if chains else []
    detail = {
        "chain_s": chain_s,
        "chains": len(chains),
        "docs_in": N_DOCS,
        "docs_out": first[-1]["rows_out"] if first else 0,
        "stages": {r["stage"]: [round(r["s"], 3), r["rows_out"]] for r in first},
        "setup_corpus_s": setup_s,
    }
    result = {
        "setup_s": setup_s,
        "e2e": {
            "throughput_per_s": N_DOCS / chain_s if chain_s else 0.0,
            "latency_p50_ms": 1000.0 * chain_s,
            "cpu_ms_per_op": 1000.0 * cpu_s / max(1, len(chains)),
        },
        "detail": detail,
        "attempted": attempted,
        "failed": failed,
        "errors": [p for p in problems if "failed" in p][:5],
        "problems": problems,
    }
    if ctx.trace:
        out = layers.empty()
        ctx.jobs.drain()
        c = chains[0] if chains else {"recs": []}
        for r in c["recs"]:
            st = ctx.jobs.stats(f"pb-chain{c['i']}-{r['stage']}")
            out[f"chain.{r['stage']}.s"] = r["s"]
            out[f"chain.{r['stage']}.rows_out"] = float(r["rows_out"])
            out[f"chain.{r['stage']}.shuffle_bytes"] = float(st["shuffle_bytes"])
            out[f"chain.{r['stage']}.executor_cpu_s"] = st["executor_cpu_ms"] / 1000.0
        # every chain of a traced run is traced: the untraced figure
        # takes out the time the per-stage bookkeeping itself took
        if chains:
            traced_s = stats.median(x["s"] for x in chains)
            bare_s = stats.median(x["s"] - x["instr_s"] for x in chains)
            out["trace.traced_items_per_s"] = N_DOCS / traced_s
            out["trace.untraced_items_per_s"] = N_DOCS / bare_s
            out["trace.overhead_ratio"] = traced_s / bare_s
        out["ops.error_ratio"] = failed / max(1, attempted)
        result["layers"] = out
    return result
