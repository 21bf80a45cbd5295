"""The read-only serving phase: a closed loop of caller threads
against one generated store.

The call mix is mostly exact retrieve(), with fixed shares of
retrieve(use_ann=True), mode='auto' and user_id calls, one
retrieve_batch of 16 tasks per caller, and repeats of a caller's own
earlier calls, which the engine's slice cache answers. New queries are
drawn Zipf-style, without replacement, from a pool about twice the
slice cache's size. Each caller's calls are planned from the seed up
front, so how many of them hit the cache does not depend on the seed
or on how fast the host runs them."""

from __future__ import annotations

import threading
import time

import numpy as np

import checks
import common
import stats
from gen import NOW, USERS, Inputs

CALLERS = 2
BATCH = 16
NPROBE = 8
K = 5
#: each caller cycles through this call mix, so every run has the same
#: shares: half exact retrieve(), a quarter repeats of the caller's own
#: earlier calls (slice-cache hits), and one each of ANN, mode='auto'
#: and user_id. Every other call asks a query no caller asked before, so
#: the hit share is the same in every run whatever the seed
CYCLE = ["retrieve", "ann", "retrieve", "repeat", "auto", "retrieve",
         "user", "repeat", "retrieve", "retrieve", "repeat", "retrieve"]
#: each caller runs exactly one 16-task batch of new queries, at this
#: call: a window of any length then holds the same batch work
BATCH_AT = (2, 5)
#: calls planned per caller, more than a run can make
MAX_CALLS = 200
PROBES = 4
#: calls each caller makes before measuring, every kind and the batch
#: included. The JVM's first minute of serving burns about a third more
#: CPU per op than later ones, while its JIT compiles the hot paths; a
#: fixed count of calls (not seconds) does the same warm-up work on a
#: faster or a slower host
WARM_CALLS = 40
SINGLE_KINDS = {"retrieve", "ann", "auto", "user"}
#: ANN recall@k floor against the exact oracle. At nprobe=8 on this
#: store (80 IVF cells, scope filters inside the probe) recall@5 over
#: the probes measured 0.30-0.75 across seeds; the floor catches an ANN
#: path that stops finding the exact rows at all
RECALL_FLOOR = 0.2


def plan_calls(pool, seed: int, calls: int = MAX_CALLS) -> list[list[dict]]:
    """Each caller's seeded call sequence: {kind, task | tasks, agent,
    project, user}. New queries are Zipf-style draws from `pool` without
    replacement, split between the callers; a repeat re-issues one of
    the caller's earlier single calls, the earlier ones more often."""
    rng = np.random.default_rng(seed * 1009 + 1)
    fresh = Inputs.zipf_indices(rng, len(pool), CALLERS * (calls + BATCH), distinct=True)
    plans = []
    for tid in range(CALLERS):
        new = iter(fresh[tid::CALLERS])
        plan: list[dict] = []
        singles: list[dict] = []
        for i in range(calls):
            if i == BATCH_AT[tid]:
                task, agent, project = pool[int(next(new))]
                tasks = [task] + [pool[int(next(new))][0] for _ in range(BATCH - 1)]
                plan.append({"kind": "batch", "tasks": tasks, "agent": agent,
                             "project": project, "user": None})
                continue
            kind = CYCLE[(i - (i > BATCH_AT[tid])) % len(CYCLE)]
            if kind == "repeat":
                rank = Inputs.zipf_indices(rng, len(singles), 1)[0]
                plan.append(singles[int(rank)])
                continue
            task, agent, project = pool[int(next(new))]
            user = USERS[int(rng.integers(0, len(USERS)))] if kind == "user" else None
            call = {"kind": kind, "task": task, "agent": agent,
                    "project": project, "user": user}
            plan.append(call)
            singles.append(call)
        plans.append(plan)
    return plans


def make_call(eng, call):
    """(fn, items, check) for one planned call; check(result) lists the
    invariant violations of the call's output."""
    kind, agent, project, user = call["kind"], call["agent"], call["project"], call["user"]
    if kind == "batch":
        tasks = call["tasks"]
        return (
            lambda: eng.retrieve_batch(tasks, agent, project, top_k=K),
            len(tasks),
            lambda out: [
                p for sl in out.values()
                for p in checks.slice_invariants(sl, agent, project, None, K)
            ] + ([] if set(out) == set(tasks) else ["retrieve_batch lost a task"]),
        )
    task = call["task"]
    if kind == "auto":
        from alma_memory_spark.operators.retrieval import MODES

        def check(sl):
            cfg = MODES[sl.mode]
            return checks.slice_invariants(
                sl, agent, project, None, cfg.top_k,
                sorted_by_score=cfg.diversity_factor == 0,
            )

        return lambda: eng.retrieve(task, agent, project, mode="auto"), 1, check
    return (
        lambda: eng.retrieve(
            task, agent, project, user_id=user, top_k=K,
            use_ann=kind == "ann", nprobe=NPROBE,
        ),
        1,
        lambda sl: checks.slice_invariants(sl, agent, project, user, K),
    )


class SliceLog:
    """Every slice the callers got back, kept alive so object identity
    marks a cache hit: the slice cache hands back the very object an
    earlier retrieve() or retrieve_batch() returned."""

    def __init__(self) -> None:
        self.slices: dict[int, object] = {}
        self._lock = threading.Lock()

    def tag(self, out) -> dict:
        new = list(out.values()) if isinstance(out, dict) else [out]
        with self._lock:
            hit = all(id(sl) in self.slices for sl in new)
            self.slices.update((id(sl), sl) for sl in new)
        return {"hit": hit}


def caller(eng, runner, plan, deadline, problems, traced, log) -> None:
    """One closed-loop caller: runs its planned calls until `deadline`."""
    for call in plan:
        if time.perf_counter() >= deadline:
            break
        fn, items, check = make_call(eng, call)
        out = runner.call(call["kind"], fn, items=items, traced=traced, tag=log.tag)
        if out is not None:
            problems.extend(check(out))


def in_threads(target, args_of, n: int) -> None:
    threads = [threading.Thread(target=target, args=args_of(i)) for i in range(n)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()


def warm_up(ctx, eng, inputs, problems) -> None:
    """The callers' own loop over their first WARM_CALLS calls, on a
    query pool disjoint from the measured one (the slice cache stays
    cold for the measured queries)."""
    plans = plan_calls(inputs.query_pool(salt=1), ctx.seed + 1, WARM_CALLS)
    log = SliceLog()
    in_threads(
        caller,
        lambda tid: (eng, common.OpRunner(), plans[tid], float("inf"), problems,
                     False, log),
        CALLERS,
    )


def measure(ctx, eng, pool, seconds, problems) -> tuple:
    """Run the callers for `seconds`; returns (runner, wall seconds).
    In a traced run the first caller is traced and the second is not:
    the same call mix on both, so their rates give the overhead."""
    plans = plan_calls(pool, ctx.seed)
    runner = common.OpRunner(ctx.tracer, ctx.jobs)
    log = SliceLog()
    start = time.perf_counter()
    deadline = start + seconds
    in_threads(
        caller,
        lambda tid: (eng, runner, plans[tid], deadline, problems,
                     ctx.trace and tid == 0, log),
        CALLERS,
    )
    return runner, max(r["t1"] for r in runner.records) - start


def check(ctx, pool) -> tuple[list[str], float]:
    """Hash-match retrieve() on an engine with an empty slice cache
    against the DuckDB oracle, and ANN recall against the same oracle."""
    from alma_memory_spark.engine import AlmaSpark

    fresh = AlmaSpark(ctx.spark, ctx.store_root, clock=lambda: NOW)
    con = checks.duckdb_store(ctx.store_root, checks.SCORED)
    probes = pool[:PROBES]
    oracle = checks.oracle_for(con, probes, NOW, K)
    problems, recall = common.in_parallel(
        lambda: checks.retrieve_parity(fresh, probes, oracle, K),
        lambda: checks.ann_recall(fresh, probes, oracle, K, NPROBE),
    )
    if recall < RECALL_FLOOR:
        problems.append(f"ANN recall@{K} {recall:.3f} below floor {RECALL_FLOOR}")
    return problems, recall


def summarize(runner, wall) -> dict:
    """Latencies are of cache misses: a hit costs microseconds and would
    only dilute the median. Hits show in slices_per_s and
    retrieve_hit_share."""
    calls = runner.of("retrieve")
    retrieve = stats.summary(r["ms"] for r in calls if not r["hit"])
    ann = stats.summary(r["ms"] for r in runner.of("ann") if not r["hit"])
    batch = [r for r in runner.of("batch") if not r["hit"]]
    return {
        "slices_per_s": sum(r["items"] for r in runner.of()) / wall,
        "retrieve_hit_share": sum(r["hit"] for r in calls) / max(1, len(calls)),
        "retrieve_p50_ms": retrieve["p50"],
        "retrieve_tail_ms": retrieve["tail"],
        "retrieve_tail_pct": retrieve["tail_pct"],
        "retrieve_n": retrieve["n"],
        "ann_p50_ms": ann["p50"],
        "ann_tail_ms": ann["tail"],
        "ann_tail_pct": ann["tail_pct"],
        "ann_n": ann["n"],
        "batch_ms_per_task": stats.median(r["ms"] / r["items"] for r in batch),
        "batch_n": len(batch),
    }
