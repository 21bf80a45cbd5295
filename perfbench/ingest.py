"""The learn and ingest phase: writes beside reads on one store.

Two threads share the store and its scopes:
- a closed-loop writer alternates write ops with reads. The writes are
  learn() calls whose outcome mix repeats strategies and error
  messages (so heuristic and anti-pattern extraction fire), plus some
  add_knowledge / record_feedback calls; each is followed by an exact
  retrieve() from the serving query pool, against a store that grows
  during the run. Reads do not overlap learn() here: a retrieve()
  running while learn() upserts heuristics can fail with
  FILE_NOT_EXIST on a partition file the upsert swapped away, at
  random, and a run's failure count must not depend on timing;
- a generator drops seeded outcome parquet files into the source
  directory of stream_outcomes_into_store on a fixed open-loop
  schedule, so the stream sink appends beside the writer's calls. A
  file's ingest lag runs from its due time to the sink's on_batch
  callback for the micro-batch that holds it.
"""

from __future__ import annotations

import json
import os
import threading
import time

import numpy as np

import checks
import common
import layers
import stats

K = 5
FILE_EVERY_S = 2.0
ROWS_PER_FILE = 400


def write_stream_file(arrow_schema, pdf, dest: str) -> None:
    """Write one parquet file atomically: the file source lists only
    names without a leading '.', so the rename publishes it whole."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    tmp = os.path.join(os.path.dirname(dest), "." + os.path.basename(dest))
    pq.write_table(pa.Table.from_pandas(pdf, schema=arrow_schema, preserve_index=False), tmp)
    os.rename(tmp, dest)


def file_batches(ckpt: str) -> dict[str, int]:
    """{file name: micro-batch id} from the stream's source log in its
    checkpoint (one JSON entry per file after a version header)."""
    out: dict[str, int] = {}
    src = os.path.join(ckpt, "sources", "0")
    for name in os.listdir(src) if os.path.isdir(src) else ():
        if name.startswith("."):
            continue
        with open(os.path.join(src, name)) as fh:
            for line in fh:
                line = line.strip()
                if line.startswith("{"):
                    e = json.loads(line)
                    out[os.path.basename(e["path"])] = int(e["batchId"])
    return out


def writer(eng, runner, ops, pool, seed, deadline, trace, written, problems) -> None:
    """Each write op, then one read: uniform draws from the pool, so
    repeats are rare and the reads measure a store that grows during
    the run, not slice-cache hits. Every other op pair is traced."""
    rng = np.random.default_rng(seed * 2017 + 7)
    for i, o in enumerate(ops):
        if time.perf_counter() >= deadline:
            break
        traced = trace and i % 2 == 0
        if o["kind"] == "learn":
            res = runner.call(
                "learn",
                lambda: eng.learn(
                    o["agent"], o["task"], o["outcome"], o["project"],
                    o["strategy"], o["task_type"], error_message=o["error"],
                ),
                traced=traced,
            )
            if res is not None:
                written["outcomes"].append(res["outcome_id"])
                written["heuristics"] += len(res.get("heuristics", ()))
                written["anti_patterns"] += len(res.get("anti_patterns", ()))
        elif o["kind"] == "add_knowledge":
            kid = runner.call(
                "add_knowledge",
                lambda: eng.add_knowledge(o["agent"], o["project"], o["domain"], o["fact"]),
                traced=traced,
            )
            if kid is not None:
                written["domain_knowledge"].append(kid)
        else:
            target = written["feedback_target"]
            runner.call(
                "record_feedback",
                lambda: eng.record_feedback(
                    target, "domain_knowledge", o["signal"], o["agent"], o["project"]
                ),
                traced=traced,
            )
        task, agent, project = pool[int(rng.integers(0, len(pool)))]
        sl = runner.call(
            "read", lambda: eng.retrieve(task, agent, project, top_k=K), traced=traced
        )
        if sl is not None:
            problems.extend(checks.slice_invariants(sl, agent, project, None, K))


def generator(files, arrow_schema, src, start, due, late) -> None:
    for i, pdf in enumerate(files):
        t_due = start + i * FILE_EVERY_S
        time.sleep(max(0.0, t_due - time.perf_counter()))
        late.append(time.perf_counter() - t_due)
        write_stream_file(arrow_schema, pdf, os.path.join(src, f"part-{i:04d}.parquet"))
        due[f"part-{i:04d}.parquet"] = t_due


def accounting(root, initial, written, streamed_ids, failed_learns) -> list[str]:
    """No learn row and no streamed row lost or duplicated. A learn()
    that raised after appending its outcome leaves one row the caller
    never got an id for; at most one such row per failed learn."""
    con = checks.duckdb_store(root, ["outcomes", "domain_knowledge"])
    problems = []
    dup = con.execute(
        "SELECT id, count(*) FROM outcomes GROUP BY id HAVING count(*) > 1 LIMIT 5"
    ).fetchall()
    if dup:
        problems.append(f"duplicated outcome rows: {dup}")
    have = {r[0] for r in con.execute("SELECT id FROM outcomes").fetchall()}
    want = set(written["outcomes"]) | set(streamed_ids)
    lost = want - have
    if lost:
        problems.append(f"{len(lost)} learned/streamed outcome rows lost, e.g. {sorted(lost)[:3]}")
    n_out = initial["outcomes"] + len(written["outcomes"]) + len(streamed_ids)
    if not n_out <= len(have) <= n_out + failed_learns:
        problems.append(
            f"outcomes holds {len(have)} rows, expected {n_out} "
            f"(+ up to {failed_learns} from failed learns)"
        )
    dk = {r[0] for r in con.execute("SELECT id FROM domain_knowledge").fetchall()}
    if not set(written["domain_knowledge"]) <= dk:
        problems.append("add_knowledge rows lost")
    if len(dk) != initial["domain_knowledge"] + len(written["domain_knowledge"]):
        problems.append("domain_knowledge row count mismatch")
    return problems


class IngestPhase:
    """The learn and ingest phase on an engine whose store the serving
    phase has already read: set up (stream started, one warm-up learn
    and one warm-up file through the sink), then `measure`, then
    `finish`."""

    def __init__(self, ctx, eng, inputs, seconds: float):
        from pyspark.sql.pandas.types import to_arrow_schema

        from alma_memory_spark import schemas
        from alma_memory_spark.streaming.ingest import (
            read_outcome_stream,
            stream_outcomes_into_store,
        )

        self.ctx, self.eng, self.inputs, self.seconds = ctx, eng, inputs, seconds
        self.ops = inputs.learn_ops(400)
        n_files = int(seconds / FILE_EVERY_S) + 1
        warm_file, *self.files = inputs.stream_files(n_files + 1, ROWS_PER_FILE)
        self.arrow_schema = to_arrow_schema(schemas.OUTCOMES)
        self.src = common.fresh_dir(os.path.join(ctx.work, "stream_in"))
        self.batch_at: dict[int, float] = {}
        self.query = stream_outcomes_into_store(
            read_outcome_stream(ctx.spark, self.src), eng.store,
            on_batch=lambda epoch: self.batch_at.setdefault(int(epoch), time.perf_counter()),
        )
        write_stream_file(self.arrow_schema, warm_file, os.path.join(self.src, "warm.parquet"))
        # a warm-up learn in a task type the measured ops never use
        warm, _ = common.in_parallel(
            lambda: eng.learn(
                "helena", "warm up the writer", True, "proj_a", "warm strategy", "ttwarm"
            ),
            self.query.processAllAvailable,
        )
        self.initial = {t: len(inputs.tables[t]) for t in ("outcomes", "domain_knowledge")}
        self.initial["outcomes"] += ROWS_PER_FILE  # the warm-up file
        self.written = {
            "outcomes": [warm["outcome_id"]], "domain_knowledge": [],
            "heuristics": 0, "anti_patterns": 0,
            "feedback_target": inputs.tables["domain_knowledge"]["id"].iloc[0],
        }
        self.due: dict[str, float] = {}
        self.late: list[float] = []

    def measure(self, pool, problems) -> "common.OpRunner":
        ctx = self.ctx
        runner = common.OpRunner(ctx.tracer, ctx.jobs)
        self.start = time.perf_counter()
        deadline = self.start + self.seconds
        threads = [
            threading.Thread(
                target=writer,
                args=(self.eng, runner, self.ops, pool, ctx.seed, deadline, ctx.trace,
                      self.written, problems),
            ),
            threading.Thread(
                target=generator,
                args=(self.files, self.arrow_schema, self.src, self.start, self.due, self.late),
            ),
        ]
        for th in threads:
            th.start()
        for th in threads:
            th.join()
        self.query.processAllAvailable()
        self.runner = runner
        return runner

    def finish(self, problems) -> dict:
        """Stop the stream, run the write accounting and return the
        phase's figures."""
        progress = list(self.query.recentProgress)
        self.query.stop()
        ckpt = os.path.join(self.ctx.store_root, "_stream_checkpoints", "outcomes")
        self.in_batch = file_batches(ckpt)
        lags = []
        for name, t_due in self.due.items():
            if name in self.in_batch and self.in_batch[name] in self.batch_at:
                lags.append((self.batch_at[self.in_batch[name]] - t_due) * 1000.0)
            else:
                problems.append(f"stream file {name} never reached the sink")
        streamed = [i for f in self.files[: len(self.due)] for i in f["id"]]
        problems += accounting(
            self.ctx.store_root, self.initial, self.written, streamed,
            len(self.runner.of("learn", ok=False)),
        )
        self.progress, self.lags = progress, lags
        reads = self.runner.of("read")
        wall = max(r["t1"] for r in reads) - self.start if reads else self.seconds
        learn = stats.summary(r["ms"] for r in self.runner.of("learn"))
        read = stats.summary(r["ms"] for r in reads)
        lag = stats.summary(lags)
        return {
            "read_slices_per_s": len(reads) / wall,
            "learn_p50_ms": learn["p50"], "learn_tail_ms": learn["tail"],
            "learn_tail_pct": learn["tail_pct"], "learn_n": learn["n"],
            "read_p50_ms": read["p50"], "read_tail_ms": read["tail"],
            "read_tail_pct": read["tail_pct"], "read_n": read["n"],
            "ingest_lag_p50_ms": lag["p50"], "ingest_lag_tail_ms": lag["tail"],
            "ingest_lag_tail_pct": lag["tail_pct"], "ingest_lag_n": lag["n"],
            "generator_late_max_ms": 1000.0 * max(self.late, default=0.0),
            "heuristics_returned": self.written["heuristics"],
            "anti_patterns_returned": self.written["anti_patterns"],
        }

    def layers(self, out: dict) -> None:
        layers.streaming_layers(out, self.progress, self.due, self.in_batch, self.batch_at)
