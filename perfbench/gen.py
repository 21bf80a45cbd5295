"""Seeded input generators for the benchmark workloads.

Everything the program under test receives is made here from one
integer seed: the memory store (five agents x two projects, the four
scored memory types plus preferences), the serving query pool and its
Zipf-style draw, the learn() outcome mix, the outcome-stream files and
the training-data document corpus. The same seed gives the same inputs.

The program receives only these generated inputs; the checks in
checks.py recompute expected outputs independently of it.
"""

from __future__ import annotations

from datetime import datetime, timedelta, timezone

import numpy as np
import pandas as pd

#: the engine's clock during a run: recency scores are computed at read
#: time, so a fixed anchor keeps scores reproducible across runs
NOW = datetime(2026, 1, 1, tzinfo=timezone.utc)

AGENTS = ["helena", "victor", "clara", "omar", "ines"]
PROJECTS = ["proj_a", "proj_b"]
USERS = [f"user{i:02d}" for i in range(20)]

# Plain-word vocabulary. The retrieval-mode keywords are included so
# mode='auto' resolves to several different modes.
_WORDS = (
    "spark column query table index vector cache batch stream window join "
    "filter shuffle partition schema parquet commit snapshot merge sort hash "
    "scan key value row record field type cluster node worker driver task "
    "stage job plan operator memory disk network latency throughput retry "
    "timeout backoff queue buffer flush compact vacuum checkpoint lineage "
    "offset epoch watermark trigger sink source format codec encode decode "
    "token corpus shard sample filter quality dedup signature minhash band "
    "bucket centroid probe recall precision score rank weight decay prune "
    "agent session tool prompt context budget user project domain fact "
    "strategy heuristic outcome pattern feedback trust signal review audit "
    "login form api database endpoint payload header cookie request response "
    "deploy release rollback config secret metric alert dashboard trace span "
    "error bug fix debug crash exception plan design explore options "
    "remember lookup find implement execute apply consolidate summarize"
).split()
VOCAB = list(dict.fromkeys(_WORDS))

N_TOPICS = 48
TOPIC_WORDS = 10
#: outcome task types; each has three repeated strategy families, dense
#: enough that every learn() scope holds clusters heuristic extraction keeps
TASK_TYPES = 3


#: rows of each generated store table, over all scopes
STORE_ROWS = {
    "domain_knowledge": 4000,
    "heuristics": 500,
    "outcomes": 1000,
    "anti_patterns": 200,
    "preferences": 100,
}
#: serving query pool: about twice the engine's 1,000-entry slice cache
POOL_SIZE = 2000
ZIPF_S = 1.05


def _topics(rng: np.random.Generator) -> list[list[str]]:
    return [
        list(rng.choice(VOCAB, size=TOPIC_WORDS, replace=False))
        for _ in range(N_TOPICS)
    ]


def _text(rng, topics, topic: int, n_core: int, n_noise: int) -> str:
    core = rng.choice(topics[topic], size=n_core, replace=False)
    noise = rng.choice(VOCAB, size=n_noise)
    return " ".join(list(core) + list(noise))


def _scopes(rng, n: int) -> tuple[np.ndarray, np.ndarray]:
    return rng.choice(AGENTS, size=n), rng.choice(PROJECTS, size=n)


def _ages(rng, n: int, max_days: float = 120.0) -> list[datetime]:
    secs = rng.integers(0, int(max_days * 86400), size=n)
    return [NOW - timedelta(seconds=int(s)) for s in secs]


def _embed(texts) -> list[np.ndarray]:
    from alma_memory_spark.embedding import hash_embed_batch

    return list(hash_embed_batch(list(texts)).astype(np.float32))


class Inputs:
    """All seeded inputs of one run. Construction is pure Python/numpy;
    nothing here touches Spark."""

    def __init__(self, seed: int):
        self.seed = seed
        self.rng = np.random.default_rng(seed)
        self.topics = _topics(self.rng)
        self.tables = self._store_tables()

    # -- store -----------------------------------------------------------

    def _store_tables(self) -> dict[str, pd.DataFrame]:
        rng, tp = self.rng, self.topics
        out: dict[str, pd.DataFrame] = {}

        n = STORE_ROWS["domain_knowledge"]
        agents, projects = _scopes(rng, n)
        topic = rng.integers(0, N_TOPICS, size=n)
        facts = [_text(rng, tp, t, 4, 3) for t in topic]
        out["domain_knowledge"] = pd.DataFrame(
            {
                "id": [f"dk_{self.seed}_{i:06d}" for i in range(n)],
                "agent": agents,
                "project_id": projects,
                "domain": [f"topic{t}" for t in topic],
                "fact": facts,
                "source": "user_stated",
                "confidence": np.round(rng.uniform(0.3, 1.0, size=n), 3),
                "last_verified": _ages(rng, n),
                "verification_status": None,
                "embedding": _embed(facts),
                "metadata": None,
            }
        )

        n = STORE_ROWS["heuristics"]
        agents, projects = _scopes(rng, n)
        topic = rng.integers(0, N_TOPICS, size=n)
        conds = [_text(rng, tp, t, 3, 1) for t in topic]
        strats = [_text(rng, tp, t, 2, 2) for t in topic]
        occ = rng.integers(3, 30, size=n)
        succ = np.minimum(occ, rng.integers(1, 30, size=n))
        ts = _ages(rng, n)
        out["heuristics"] = pd.DataFrame(
            {
                "id": [f"h_{self.seed}_{i:06d}" for i in range(n)],
                "agent": agents,
                "project_id": projects,
                "condition": conds,
                "strategy": strats,
                "confidence": np.round(rng.uniform(0.5, 1.0, size=n), 3),
                "occurrence_count": occ.astype(np.int32),
                "success_count": succ.astype(np.int32),
                "last_validated": ts,
                "created_at": ts,
                "verification_status": None,
                "embedding": _embed(f"{c} {s}" for c, s in zip(conds, strats)),
                "metadata": None,
            }
        )

        n = STORE_ROWS["outcomes"]
        out["outcomes"] = self.outcome_rows(
            [f"o_{self.seed}_{i:06d}" for i in range(n)], rng
        )

        n = STORE_ROWS["anti_patterns"]
        agents, projects = _scopes(rng, n)
        topic = rng.integers(0, N_TOPICS, size=n)
        # patterns use tokens no learn() text ever contains, so the
        # write guard never blocks a benchmark write
        pats = [f"antipat{i}x{self.seed}" for i in range(n)]
        whys = [_text(rng, tp, t, 3, 2) for t in topic]
        ts = _ages(rng, n)
        out["anti_patterns"] = pd.DataFrame(
            {
                "id": [f"ap_{self.seed}_{i:06d}" for i in range(n)],
                "agent": agents,
                "project_id": projects,
                "pattern": pats,
                "why_bad": whys,
                "better_alternative": None,
                "occurrence_count": rng.integers(2, 15, size=n).astype(np.int32),
                "last_seen": ts,
                "created_at": ts,
                "verification_status": None,
                "embedding": _embed(f"{p} {w}" for p, w in zip(pats, whys)),
                "metadata": None,
            }
        )

        n = STORE_ROWS["preferences"]
        out["preferences"] = pd.DataFrame(
            {
                "id": [f"pref_{self.seed}_{i:05d}" for i in range(n)],
                "user_id": rng.choice(USERS, size=n),
                "category": rng.choice(["style", "tools", "format"], size=n),
                "preference": [
                    " ".join(rng.choice(VOCAB, size=4)) for _ in range(n)
                ],
                "source": "explicit_instruction",
                "confidence": np.round(rng.uniform(0.5, 1.0, size=n), 3),
                "timestamp": _ages(rng, n),
                "metadata": None,
            }
        )
        return out

    def strategy(self, task_type: int, family: int) -> str:
        """The repeated strategy of one (task type, family): outcomes
        sharing it cluster, so heuristic extraction has work."""
        return " ".join(self.topics[task_type * 8 + family][:2]) + " approach"

    def outcome_rows(self, ids: list[str], rng) -> pd.DataFrame:
        """Outcome rows (store seed rows and stream-file rows): each uses
        one of three repeated strategies of its task type and succeeds
        nine times in ten. Failures carry no error message: only learn()
        writes the failure pairs that form anti-patterns, under tokens
        nothing else uses (see learn_ops)."""
        n = len(ids)
        agents, projects = _scopes(rng, n)
        tt = rng.integers(0, TASK_TYPES, size=n)
        fam = rng.integers(0, 3, size=n)
        tasks = [_text(rng, self.topics, t * 8 + f, 3, 2) for t, f in zip(tt, fam)]
        strats = [self.strategy(t, f) for t, f in zip(tt, fam)]
        return pd.DataFrame(
            {
                "id": ids,
                "agent": agents,
                "project_id": projects,
                "task_type": [f"tt{t}" for t in tt],
                "task_description": tasks,
                "success": rng.random(n) < 0.9,
                "strategy_used": strats,
                "duration_ms": rng.integers(10, 5000, size=n).astype(np.int32),
                "error_message": None,
                "user_feedback": None,
                "timestamp": _ages(rng, n),
                "verification_status": None,
                "embedding": _embed(f"{t} {s}" for t, s in zip(tasks, strats)),
                "metadata": None,
            }
        )

    # -- serving queries -------------------------------------------------

    def query_pool(self, salt: int = 0) -> list[tuple[str, str, str]]:
        """(task, agent, project) triples, drawn Zipf-style by
        zipf_indices(); another `salt` gives another pool."""
        rng = np.random.default_rng(self.seed * 7919 + 1 + 104723 * salt)
        pool = []
        for _ in range(POOL_SIZE):
            t = int(rng.integers(0, N_TOPICS))
            text = _text(rng, self.topics, t, 3, 1)
            pool.append((text, str(rng.choice(AGENTS)), str(rng.choice(PROJECTS))))
        return pool

    @staticmethod
    def zipf_indices(rng, n_pool: int, size: int, distinct: bool = False) -> np.ndarray:
        ranks = np.arange(1, n_pool + 1, dtype=np.float64)
        p = ranks ** -ZIPF_S
        p /= p.sum()
        return rng.choice(n_pool, size=size, p=p, replace=not distinct)

    # -- learn() outcome mix ---------------------------------------------

    #: the writer's op cycle: learn (L), failing learn of a broken
    #: strategy (F, always in pairs), add_knowledge (K), record_feedback (R)
    WRITER_CYCLE = "LLFLKLFR"

    def learn_ops(self, n: int) -> list[dict]:
        """Closed-loop writer ops, cycling WRITER_CYCLE so every run has
        the same op mix. A learn reuses one of its task type's repeated
        strategies, so heuristic extraction finds clusters to upsert. The
        two failing learns of a cycle share a 'broken' strategy and its
        error message: the second forms an anti-pattern, and the strategy
        is never used again, so the write guard (which blocks writes
        matching a stored anti-pattern) never refuses a benchmark write."""
        rng = np.random.default_rng(self.seed * 104729 + 3)
        ops: list[dict] = []
        broken = None
        for i in range(n):
            kind = self.WRITER_CYCLE[i % len(self.WRITER_CYCLE)]
            agent = str(rng.choice(AGENTS))
            project = str(rng.choice(PROJECTS))
            t, fam = int(rng.integers(0, TASK_TYPES)), int(rng.integers(0, 3))
            if kind == "K":
                ops.append(
                    {
                        "kind": "add_knowledge",
                        "agent": agent,
                        "project": project,
                        "domain": f"topic{t * 8 + fam}",
                        "fact": _text(rng, self.topics, t * 8 + fam, 4, 2),
                    }
                )
            elif kind == "R":
                ops.append(
                    {
                        "kind": "record_feedback",
                        "agent": agent,
                        "project": project,
                        "signal": str(rng.choice(["used", "ignored", "thumbs_up"])),
                    }
                )
            elif kind == "F":
                if broken is None:
                    tok = f"brokenstrat{i}x{self.seed}"
                    broken = {
                        "kind": "learn",
                        "agent": agent,
                        "project": project,
                        "task": f"run {tok} step",
                        "strategy": tok,
                        "task_type": f"tt{t}",
                        "outcome": False,
                        "error": f"{tok} failed with timeout",
                    }
                    ops.append(dict(broken))
                else:
                    ops.append(broken)
                    broken = None
            else:
                ops.append(
                    {
                        "kind": "learn",
                        "agent": agent,
                        "project": project,
                        "task": _text(rng, self.topics, t * 8 + fam, 3, 1),
                        "strategy": self.strategy(t, fam),
                        "task_type": f"tt{t}",
                        "outcome": bool(rng.random() < 0.9),
                        "error": None,
                    }
                )
        return ops

    # -- outcome stream --------------------------------------------------

    def stream_files(self, n_files: int, rows_per_file: int) -> list[pd.DataFrame]:
        rng = np.random.default_rng(self.seed * 15485863 + 5)
        return [
            self.outcome_rows(
                [f"st_{self.seed}_{f:04d}_{i:04d}" for i in range(rows_per_file)],
                rng,
            )
            for f in range(n_files)
        ]


# -- training-data corpus --------------------------------------------------

_LANGS = ["en", "en", "en", "de", "fr", "es", "zh"]
_BOILER = [
    "terms of service apply to every page of this site and all content",
    "subscribe to the newsletter for weekly updates on data engineering",
    "copyright notice all rights reserved by the original authors",
]


def documents(seed: int, n_docs: int) -> pd.DataFrame:
    """Seeded corpus in the documents.parquet shape (doc_id, text, lang,
    source, n_chars) with the properties every dedup stage needs:
    exact clone families, near-duplicate families (a few words edited),
    shared boilerplate paragraphs and a repeated 60-token passage."""
    rng = np.random.default_rng(seed * 31337 + 11)
    topics = _topics(rng)
    passage = " ".join(rng.choice(VOCAB, size=60))
    texts: list[str] = []
    while len(texts) < n_docs:
        r = rng.random()
        if texts and r < 0.06:
            texts.append(texts[int(rng.integers(0, len(texts)))])  # exact clone
            continue
        if texts and r < 0.14:
            words = texts[int(rng.integers(0, len(texts)))].split(" ")
            for _ in range(2):
                j = int(rng.integers(0, len(words)))
                if words[j] and "\n" not in words[j]:
                    words[j] = str(rng.choice(VOCAB))
            texts.append(" ".join(words))  # near-duplicate
            continue
        t = int(rng.integers(0, N_TOPICS))
        paras = [
            " ".join(
                list(rng.choice(topics[t], size=int(rng.integers(8, 16))))
                + list(rng.choice(VOCAB, size=int(rng.integers(8, 20))))
            )
            for _ in range(int(rng.integers(2, 5)))
        ]
        if rng.random() < 0.3:
            paras.insert(0, _BOILER[int(rng.integers(0, len(_BOILER)))])
        if rng.random() < 0.1:
            paras.append(passage)
        texts.append("\n\n".join(paras))
    return pd.DataFrame(
        {
            "doc_id": np.arange(n_docs, dtype=np.int64),
            "text": texts,
            "lang": rng.choice(_LANGS, size=n_docs),
            "source": [f"src{int(x)}" for x in rng.integers(0, 20, size=n_docs)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def bench_docs(docs: pd.DataFrame) -> pd.DataFrame:
    """Held-out 'benchmark' documents for decontamination: every 40th
    corpus document verbatim, plus a lightly edited copy of every 80th
    (a paraphrase only the fuzzy pass catches)."""
    exact = docs.iloc[::40][["doc_id", "text"]]
    fuzzy = docs.iloc[20::80][["doc_id", "text"]].copy()
    fuzzy["doc_id"] += 10_000_000
    fuzzy["text"] = fuzzy["text"].str.replace(" ", "  ", n=1) + " extra"
    return pd.concat([exact, fuzzy], ignore_index=True)
