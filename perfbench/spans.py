"""Span tracing around the program's layer boundaries, installed from
the benchmark's own files.

Each wrapper replaces the attribute the caller resolves at call time
(an engine instance attribute, a module attribute such as
`operators.learning.extract_heuristics`, or a class attribute such as
`IVFIndex.search`), so the program code is untouched. Spans (name,
start, end, parent, op id) are kept in memory and summarized or
written out when the run ends. A wrapper records only inside an op the
workload marked as traced; everywhere else it is a plain pass-through,
which is what lets one run compare traced and untraced ops.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import inspect
import itertools
import json
import threading
import time
from collections import defaultdict


class Tracer:
    def __init__(self) -> None:
        self.spans: list[tuple] = []  # (id, parent, op, name, t0, t1, err)
        self.ops: list[tuple] = []  # (op id, kind, traced, t0, t1, items)
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        self._patches: list[tuple] = []
        self.missing: list[str] = []

    # -- recording ------------------------------------------------------

    def _stack(self) -> list:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextlib.contextmanager
    def op(self, kind: str, traced: bool):
        """One workload op (the root of its spans). Yields a dict the
        caller may fill with {'items': n}."""
        oid = next(self._ids)
        rec = {"items": 1}
        self._local.op = oid if traced else None
        t0 = time.perf_counter()
        try:
            yield rec
        finally:
            t1 = time.perf_counter()
            self._local.op = None
            with self._lock:
                self.ops.append((oid, kind, traced, t0, t1, rec["items"]))

    @contextlib.contextmanager
    def span(self, name: str):
        op = getattr(self._local, "op", None)
        if op is None:
            yield
            return
        stack = self._stack()
        sid = next(self._ids)
        parent = stack[-1] if stack else op
        stack.append(sid)
        err = None
        t0 = time.perf_counter()
        try:
            yield
        except BaseException as e:
            err = type(e).__name__
            raise
        finally:
            t1 = time.perf_counter()
            stack.pop()
            with self._lock:
                self.spans.append((sid, parent, op, name, t0, t1, err))

    # -- installation ---------------------------------------------------

    def wrap(self, name: str, fn, on_result=None):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with self.span(name):
                out = fn(*args, **kwargs)
                if on_result is not None:
                    out = on_result(name, out)
                return out

        return wrapper

    def patch(self, owner, attr: str, name: str, on_result=None) -> None:
        """Replace owner.attr with a span wrapper, keeping static and
        class methods what they were. An attribute the program no longer
        has is recorded in `missing` and skipped."""
        if isinstance(owner, str):
            owner = importlib.import_module(owner)
        label = f"{getattr(owner, '__name__', type(owner).__name__)}.{attr}"
        try:
            raw = inspect.getattr_static(owner, attr)
        except AttributeError:
            self.missing.append(label)
            return
        if isinstance(raw, staticmethod):
            new = staticmethod(self.wrap(name, raw.__func__, on_result))
        elif isinstance(raw, classmethod):
            new = classmethod(self.wrap(name, raw.__func__, on_result))
        elif inspect.isclass(owner) or inspect.ismodule(owner):
            new = self.wrap(name, raw, on_result)
        else:  # an instance: wrap the bound method
            new = self.wrap(name, getattr(owner, attr), on_result)
        had_own = not inspect.isclass(owner) and not inspect.ismodule(owner) and (
            attr in getattr(owner, "__dict__", {})
        )
        self._patches.append((owner, attr, raw, had_own))
        setattr(owner, attr, new)

    def restore(self) -> None:
        for owner, attr, raw, had_own in reversed(self._patches):
            if inspect.isclass(owner) or inspect.ismodule(owner) or had_own:
                setattr(owner, attr, raw)
            else:
                delattr(owner, attr)
        self._patches.clear()

    def _collect_in_span(self, name, df):
        """Lazy operators return a DataFrame; its collect() is where the
        layer's work runs, so attribute that call to the same span."""
        try:
            inner = df.collect
        except AttributeError:
            return df
        df.collect = self.wrap(name, inner)
        return df

    def install_engine_layers(self, eng) -> None:
        """Span wrappers around each layer the serving, learning and
        streaming paths call into."""
        from alma_memory_spark.operators.ann_index import IVFIndex

        for attr in ("retrieve", "retrieve_batch", "learn"):
            self.patch(eng, attr, f"engine.{attr}")
        self.patch(eng.embedder, "encode", "embedding.encode")
        ss = "alma_memory_spark.operators.serving_sql"
        self.patch(ss, "compile_serving_template", "serving_sql.compile")
        self.patch(ss, "compile_batch_template", "serving_sql.compile")
        self.patch(eng, "_sql_serving_rows", "serving_sql.serve")
        self.patch(eng, "_sql_batch_rows", "serving_sql.serve")
        self.patch(eng, "_srv_run", "spark.sql_collect")
        self.patch("alma_memory_spark.engine", "retrieve_type", "retrieval.retrieve_type")
        self.patch(
            "alma_memory_spark.operators.retrieval", "score_memories",
            "retrieval.score_memories",
        )
        for attr in ("search", "search_sql_subquery"):
            self.patch(IVFIndex, attr, "ann_index.search")
        for attr in ("search_batch", "search_batch_sql_subquery"):
            self.patch(IVFIndex, attr, "ann_index.search_batch")
        for attr in ("read", "append", "upsert"):
            self.patch(eng.store, attr, f"store.{attr}")
        lm = "alma_memory_spark.operators.learning"
        for attr, name in (
            ("extract_heuristics", "learning.extract_heuristics"),
            ("extract_anti_patterns", "learning.extract_anti_patterns"),
        ):
            self.patch(lm, attr, name, on_result=self._collect_in_span)
        self.patch(lm, "write_guard_filter", "learning.write_guard")

    # -- summaries ------------------------------------------------------

    def self_times(self) -> dict[str, list[float]]:
        """Per span name, the self time (duration minus the part of it
        that direct children cover) of every recorded span, in ms."""
        child = defaultdict(float)
        for sid, parent, op, name, t0, t1, err in self.spans:
            child[parent] += t1 - t0
        out: dict[str, list[float]] = defaultdict(list)
        for sid, parent, op, name, t0, t1, err in self.spans:
            out[name].append(max(0.0, (t1 - t0) - child[sid]) * 1000.0)
        return out

    def durations(self) -> dict[str, list[float]]:
        out: dict[str, list[float]] = defaultdict(list)
        for sid, parent, op, name, t0, t1, err in self.spans:
            out[name].append((t1 - t0) * 1000.0)
        return out

    def errors(self, name: str, err: str) -> int:
        return sum(1 for s in self.spans if s[3] == name and s[6] == err)

    def traced_ops(self, kinds=None) -> list[tuple]:
        return [o for o in self.ops if o[2] and (kinds is None or o[1] in kinds)]

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(
                    json.dumps(
                        dict(zip(("id", "parent", "op", "name", "t0", "t1", "err"), s))
                    )
                    + "\n"
                )
