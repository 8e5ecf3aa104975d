"""Spans recorded from outside the program.

The traced run wraps public functions of each layer where the caller looks
them up (a module attribute or a class attribute), records one span per
call, and keeps the spans in memory until the run ends.  Nothing inside
the program is changed or instrumented."""

from __future__ import annotations

import time
import types
from contextlib import contextmanager

from probes import union_s

# (owner module, attribute, span name, gets its own Spark job group)
LAYER_CALLS = (
    ("anndb_spark.dataset", "Dataset.search", "dataset.search.call", True),
    ("anndb_spark.dataset", "Dataset.insert", "dataset.insert", True),
    ("anndb_spark.dataset", "Dataset.update", "dataset.update", True),
    ("anndb_spark.dataset", "Dataset.remove", "dataset.remove", True),
    ("anndb_spark.dataset", "Dataset.compact", "dataset.compact", True),
    ("anndb_spark.dataset", "Dataset.build_index", "dataset.build_index", True),
    ("anndb_spark.sources.fsutil", "index_fingerprint", "fsutil.index_fingerprint", False),
    ("anndb_spark.plans.planner", "knn", "planner.knn", False),
    ("anndb_spark.dataset", "apply_changes_sql", "crud.apply_changes_sql", False),
    ("anndb_spark.operators.hnsw", "build_index", "hnsw.build_index", False),
    ("anndb_spark.operators.hnsw", "save_index", "hnsw.save_index", False),
    ("anndb_spark.operators.hnsw", "search_index_path", "hnsw.search_index_path", False),
    ("anndb_spark.operators.hnsw", "tombstone_rows", "hnsw.tombstone_rows", False),
    ("anndb_spark.operators.dedup", "minhash_lsh_pairs", "dedup.minhash_lsh_pairs", True),
    ("anndb_spark.operators.dedup", "dedup_clusters", "dedup.dedup_clusters", True),
)


class Span:
    __slots__ = ("name", "start", "end", "parent", "op", "group")

    def __init__(self, name, start, parent, op):
        self.name, self.start, self.end = name, start, start
        self.parent, self.op, self.group = parent, op, None

    @property
    def dur(self) -> float:
        return self.end - self.start


class _Traced:
    """Callable stand-in for a wrapped function or method.  Pickles as the
    original attribute, so a Spark closure that captured it ships the
    untraced function to the workers."""

    def __init__(self, tracer, name, fn, owner, attr, group):
        self.tracer, self.name, self.fn = tracer, name, fn
        self.owner, self.attr, self.group = owner, attr, group

    def __call__(self, *args, **kwargs):
        if not self.tracer.active:
            return self.fn(*args, **kwargs)
        with self.tracer.span(self.name, self.group):
            return self.fn(*args, **kwargs)

    def __get__(self, obj, objtype=None):
        return self if obj is None else types.MethodType(self, obj)

    def __reduce__(self):
        return getattr, (self.owner, self.attr)


class Tracer:
    """Spans (name, start, end, parent, op id) kept in memory.

    ``active`` switches recording per op, so one run can interleave traced
    and untraced ops and report the tracing overhead.  ``on_group`` is
    called with a job-group name when a group-owning span opens, and with
    the enclosing span's group (or None, meaning the op's own group) when
    it closes, so Spark jobs are attributed per layer call."""

    def __init__(self, on_group=None):
        self.spans: list[Span] = []
        self.stack: list[int] = []
        self.op: str | None = None
        self.active = False
        self.on_group = on_group
        self.groups: dict[str, list[str]] = {}  # op id -> job groups used
        self._patched: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str, group: bool = False):
        parent = self.stack[-1] if self.stack else None
        idx = len(self.spans)
        sp = Span(name, time.perf_counter(), parent, self.op)
        self.spans.append(sp)
        self.stack.append(idx)
        if group and self.on_group is not None and self.op is not None:
            sp.group = f"{self.op}/{name}/{idx}"
            self.groups.setdefault(self.op, []).append(sp.group)
            self.on_group(sp.group)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self.stack.pop()
            if sp.group is not None:
                # hand the jobs back to the nearest enclosing group, if any
                outer = [self.spans[i].group for i in self.stack
                         if self.spans[i].op == self.op and self.spans[i].group]
                self.on_group(outer[-1] if outer else None)

    def patch_layers(self) -> None:
        import importlib

        for mod_name, attr, name, group in LAYER_CALLS:
            mod = importlib.import_module(mod_name)
            owner, leaf = mod, attr
            if "." in attr:
                cls, leaf = attr.split(".")
                owner = getattr(mod, cls)
            orig = owner.__dict__[leaf]
            self._patched.append((owner, leaf, orig))
            setattr(owner, leaf, _Traced(self, name, orig, owner, leaf, group))

    def unpatch(self) -> None:
        for owner, leaf, orig in reversed(self._patched):
            setattr(owner, leaf, orig)
        self._patched.clear()

    def self_time(self, idx: int) -> float:
        """Span duration minus the part its child spans cover."""
        sp = self.spans[idx]
        kids = [(c.start, c.end) for c in self.spans if c.parent == idx]
        return sp.dur - union_s(kids, sp.start, sp.end)

    def self_ms_by_name(self, ops) -> dict:
        """Summed self time (ms) and call count per span name over ``ops``."""
        out: dict = {}
        for i, s in enumerate(self.spans):
            if s.op in ops:
                ms, n = out.get(s.name, (0.0, 0))
                out[s.name] = (ms + self.self_time(i) * 1000, n + 1)
        return out

    def to_json(self) -> list[dict]:
        return [
            {"name": s.name, "start": s.start, "end": s.end,
             "self": self.self_time(i), "parent": s.parent, "op": s.op}
            for i, s in enumerate(self.spans)
        ]
