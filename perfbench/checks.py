"""Output checks. Each returns a list of problems; an empty list passes.

The retrieve oracle is an independent DuckDB recomputation of the exact
default-mode pipeline over the store's parquet files: cosine top-2k per
memory type inside the (project, agent) scope, the 0.4/0.3/0.2/0.1
composite of similarity, recency, success and confidence, the 0.2
threshold, then top-k, scores rounded to 6 dp. Its rows are hash-matched
against retrieve() on an engine with an empty slice cache."""

from __future__ import annotations

import hashlib
import os

SCORED = ["heuristics", "outcomes", "domain_knowledge", "anti_patterns"]

_RECENCY_TS = {
    "heuristics": "last_validated",
    "outcomes": "timestamp",
    "domain_knowledge": "last_verified",
    "anti_patterns": "last_seen",
}
_SUCCESS = {
    "heuristics": "CASE WHEN occurrence_count > 0 "
    "THEN success_count::DOUBLE / occurrence_count ELSE 0.0 END",
    "outcomes": "CASE WHEN success THEN 1.0 ELSE 0.3 END",
    "domain_knowledge": "1.0",
    "anti_patterns": "least(occurrence_count::DOUBLE / 10.0, 1.0)",
}
_CONF = {
    "heuristics": "confidence",
    "outcomes": "1.0",
    "domain_knowledge": "confidence",
    "anti_patterns": "1.0",
}
_COS = """
  list_sum(list_transform(range(1, len(embedding) + 1),
           i -> embedding[i]::DOUBLE * q[i]))
  / (sqrt(list_sum(list_transform(embedding, x -> x::DOUBLE * x::DOUBLE)))
     * sqrt(list_sum(list_transform(q, x -> x * x))))
"""


def parquet_files(table_dir: str) -> list[str]:
    """The data files a Spark reader sees: *.parquet outside any
    hidden ('.', '_') directory."""
    out = []
    for dirpath, dirnames, names in os.walk(table_dir):
        dirnames[:] = [d for d in dirnames if not d.startswith((".", "_"))]
        out.extend(
            os.path.join(dirpath, n)
            for n in names
            if n.endswith(".parquet") and not n.startswith((".", "_"))
        )
    return sorted(out)


def duckdb_store(root: str, tables):
    import duckdb

    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    for t in tables:
        files = parquet_files(os.path.join(root, t))
        flist = "[" + ",".join(f"'{f}'" for f in files) + "]"
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet({flist}, "
            "hive_partitioning = true, union_by_name = true)"
        )
    return con


def oracle_rows(con, qvec, agent, project, now, k) -> list[tuple]:
    """(memory_type, id, score6) rows of a default-mode retrieve, in
    the engine's output order."""
    q = "[" + ",".join(repr(float(x)) for x in qvec) + "]::DOUBLE[]"
    now_s = now.timestamp()
    out = []
    for t in SCORED:
        sql = f"""
        WITH c AS (
          SELECT *, {_COS} AS sim FROM {t}, (SELECT {q} AS q)
          WHERE project_id = ? AND agent = ?
        ),
        top AS (
          SELECT * FROM (
            SELECT c.*, row_number() OVER (ORDER BY sim DESC, id ASC) AS ann_rank
            FROM c
          ) WHERE ann_rank <= {2 * k}
        ),
        scored AS (
          SELECT id, ann_rank,
            0.4 * sim
            + 0.3 * least(1.0, pow(0.5, greatest(
                ({now_s} - epoch({_RECENCY_TS[t]})) / 86400.0, 0.0) / 30.0))
            + 0.2 * ({_SUCCESS[t]})
            + 0.1 * ({_CONF[t]}) AS score
          FROM top
        )
        SELECT id, score FROM scored WHERE score >= 0.2
        ORDER BY score DESC, ann_rank ASC LIMIT {k}
        """
        out.extend(
            (t, i, round(s, 6))
            for i, s in con.execute(sql, [project, agent]).fetchall()
        )
    return out


def slice_rows(sl) -> list[tuple]:
    return [
        (t, r["id"], round(r["score"], 6)) for t in SCORED for r in getattr(sl, t)
    ]


def digest(rows) -> str:
    return hashlib.md5(repr(rows).encode()).hexdigest()


def oracle_for(con, probes, now, k: int = 5) -> list[list[tuple]]:
    """The DuckDB recomputation for each (task, agent, project) probe."""
    from alma_memory_spark.embedding import hash_embed

    return [
        oracle_rows(con, hash_embed(task.strip()), agent, project, now, k)
        for task, agent, project in probes
    ]


def retrieve_parity(eng, probes, oracle, k: int = 5) -> list[str]:
    """Hash-match retrieve() against the oracle rows on every probe."""
    problems = []
    for (task, agent, project), want in zip(probes, oracle):
        got = slice_rows(eng.retrieve(task, agent, project, top_k=k))
        if digest(want) != digest(got):
            problems.append(
                f"retrieve({task!r}, {agent}, {project}) differs from the "
                f"DuckDB oracle: got {got[:6]} want {want[:6]}"
            )
    return problems


def ann_recall(eng, probes, oracle, k: int = 5, nprobe: int = 4) -> float:
    """Mean recall@k of use_ann retrieval's domain_knowledge rows
    against the exact oracle's."""
    vals = []
    for (task, agent, project), want in zip(probes, oracle):
        exact = {i for t, i, _ in want if t == "domain_knowledge"}
        if not exact:
            continue
        sl = eng.retrieve(task, agent, project, top_k=k, use_ann=True, nprobe=nprobe)
        got = {r["id"] for r in sl.domain_knowledge}
        vals.append(len(exact & got) / len(exact))
    return sum(vals) / len(vals) if vals else 0.0


def slice_invariants(sl, agent, project, user, k, sorted_by_score=True) -> list[str]:
    """Every row in the caller's scope, at most k per type, and (for
    modes without diversity re-ranking) sorted by score."""
    bad = []
    for t in SCORED:
        rows = getattr(sl, t)
        if len(rows) > k:
            bad.append(f"{t}: {len(rows)} rows > k={k}")
        for r in rows:
            if r.get("agent") != agent or r.get("project_id") != project:
                bad.append(f"{t}: row {r.get('id')} outside scope {agent}/{project}")
        scores = [r["score"] for r in rows]
        if sorted_by_score and scores != sorted(scores, reverse=True):
            bad.append(f"{t}: rows not sorted by score")
    for r in sl.preferences:
        if r.get("user_id") != user:
            bad.append(f"preferences: row {r.get('id')} for another user")
    if len(sl.preferences) > k:
        bad.append(f"preferences: {len(sl.preferences)} rows > k={k}")
    return bad
