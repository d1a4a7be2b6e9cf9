"""Spans around calls into the library's public functions, recorded from the
benchmark's side only: the library itself carries no tracing.

``Tracer.install`` replaces each public callable below with a timing
wrapper; ``uninstall`` puts the originals back.  A span records name,
start, end, parent span and operation id; spans stay in memory and are
written out as JSON when the run ends.  Spark job, stage and task counts
per operation come from ``setJobGroup`` plus the status tracker, which
works with the Spark UI disabled.
"""

from __future__ import annotations

import functools
import json
import time

#: (module, owner attribute or None, callable name, span name).  A module
#: function is patched where it is looked up: ``parse_query`` in the executor
#: module, which bound the name at import.
TRACED = [
    ("lucene_plugin_spark.api", "LuceneFacade", "search", "api.search"),
    ("lucene_plugin_spark.api", "LuceneFacade", "commit", "api.commit"),
    ("lucene_plugin_spark.api", "LuceneFacade", "index_text", "api.index_text"),
    ("lucene_plugin_spark.api", "LuceneFacade", "delete", "api.delete"),
    ("lucene_plugin_spark.query.executor", None, "parse_query",
     "parser.parse_query"),
    ("lucene_plugin_spark.query.executor", "SearchEngine", "search",
     "executor.search"),
    ("lucene_plugin_spark.query.executor", "SearchEngine", "search_many",
     "executor.search_many"),
    ("lucene_plugin_spark.query.executor", "SearchEngine", "warm",
     "executor.warm"),
    ("lucene_plugin_spark.index.builder", "IndexBuilder", "build",
     "builder.build"),
    ("lucene_plugin_spark.index.builder", "IndexBuilder", "ingest_docs",
     "builder.ingest_docs"),
    ("lucene_plugin_spark.index.builder", "IndexBuilder", "build_from_docs",
     "builder.build_from_docs"),
    ("lucene_plugin_spark.index.mutations", "IndexMutator", "upsert",
     "mutations.upsert"),
    ("lucene_plugin_spark.index.mutations", "IndexMutator", "delete_keys",
     "mutations.delete_keys"),
] + [("lucene_plugin_spark.storage.catalog", "Table", m, f"catalog.{m}")
     for m in ("overwrite", "append", "replace_partitions", "commit_dirs")]

#: span name of the ``collect()`` on the frame each lazy search returns
COLLECT_SPANS = {"executor.search": "executor.collect",
                 "executor.search_many": "executor.batch_collect"}


class Tracer:
    def __init__(self):
        self.spans: list[dict] = []
        self.op: int | None = None
        self._stack: list[int] = []
        self._undo: list[tuple[object, str, object]] = []

    def wrap(self, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            rec = {"id": len(self.spans), "name": name, "op": self.op,
                   "parent": self._stack[-1] if self._stack else None,
                   "start": time.perf_counter(), "end": None}
            self.spans.append(rec)
            self._stack.append(rec["id"])
            try:
                return fn(*args, **kwargs)
            finally:
                self._stack.pop()
                rec["end"] = time.perf_counter()
        return traced

    def _collect_traced(self, search, name: str):
        """``SearchEngine.search`` and ``search_many`` return a lazy frame;
        the caller's ``collect()`` on it (Spark job plus result hop) is its
        own span, ``name``."""
        @functools.wraps(search)
        def wrapped(*args, **kwargs):
            df = search(*args, **kwargs)
            df.collect = self.wrap(name, df.collect)
            return df
        return wrapped

    def install(self) -> None:
        import importlib
        for mod_name, owner_name, attr, name in TRACED:
            mod = importlib.import_module(mod_name)
            owner = getattr(mod, owner_name) if owner_name else mod
            orig = getattr(owner, attr)
            fn = self._collect_traced(orig, COLLECT_SPANS[name]) \
                if name in COLLECT_SPANS else orig
            setattr(owner, attr, self.wrap(name, fn))
            self._undo.append((owner, attr, orig))

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._undo):
            setattr(owner, attr, orig)
        self._undo.clear()

    # ------------------------------------------------------------ analysis
    def named(self, name: str, ops=None) -> list[dict]:
        """Spans called ``name``; only those of the op ids in ``ops`` when
        given."""
        return [s for s in self.spans if s["name"] == name
                and (ops is None or s["op"] in ops)]

    def duration(self, s: dict) -> float:
        return s["end"] - s["start"]

    def children(self, s: dict) -> list[dict]:
        return [c for c in self.spans if c["parent"] == s["id"]]

    def self_time(self, s: dict) -> float:
        """Duration minus the part its child spans cover (children of one
        span run one after another on the client thread)."""
        return max(0.0, self.duration(s)
                   - sum(self.duration(c) for c in self.children(s)))

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans}, f)


def span_cost_s(n: int = 20000) -> float:
    """Measured cost of one span: a wrapped no-op minus a bare no-op."""
    def noop():
        return None
    t = Tracer()
    wrapped = t.wrap("noop", noop)
    t0 = time.perf_counter()
    for _ in range(n):
        noop()
    bare = time.perf_counter() - t0
    t0 = time.perf_counter()
    for _ in range(n):
        wrapped()
    return max(0.0, (time.perf_counter() - t0 - bare) / n)


def spark_counts(sc, groups: list[str]) -> list[tuple[int, int, int]]:
    """(jobs, stages, tasks) launched under each job group."""
    tracker = sc.statusTracker()
    out = []
    for g in groups:
        jobs = tracker.getJobIdsForGroup(g)
        stages = tasks = 0
        for j in jobs:
            info = tracker.getJobInfo(j)
            for sid in (info.stageIds if info else []):
                st = tracker.getStageInfo(sid)
                if st is not None:
                    stages += 1
                    tasks += st.numTasks
        out.append((len(jobs), stages, tasks))
    return out
