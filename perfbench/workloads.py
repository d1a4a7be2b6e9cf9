"""The two benchmark workloads, their set-up, the oracle check and the
metrics.  One closed-loop client per run: each call is issued after the
previous one returned.

search_interactive  distinct single queries through ``LuceneFacade.search``
                    on the freshly built, on-disk index.  A traced run then
                    also measures the batch layers: ``SearchEngine.warm`` and
                    ``search_many`` batches on the same index.
index_refresh       refresh cycles through one facade: 16 ``index_text``
                    calls, deletes of keys this facade wrote in earlier
                    cycles, then probe searches, the first of which commits.
"""

from __future__ import annotations

import math
import os
import shutil
import statistics
import sys
import tempfile
import time

import numpy as np

import inputs
from spans import Tracer, span_cost_s, spark_counts

WORKLOADS = ("search_interactive", "index_refresh")
#: closed-loop floors: a run makes at least this many refresh cycles, or
#: rounds of one query per family (inputs.query_stream), even when
#: ``--seconds`` has already passed; search_interactive also stops only at
#: the end of a round, so every run has the same family mix
MIN_CYCLES = 1
MIN_ROUNDS = 1
#: the set-up search: one leaf of every query family, so the first measured
#: queries do not pay first-use costs (a run's early queries were up to 40%
#: slower without it); the stream never produces it, so it cannot serve a
#: measured query from the results cache
WARMUP_QUERY = ("repo00", 'index AND query "cache hash" quer* s*ent '
                          "segment~1 -merge", 10)
#: the batch phase of a traced search_interactive run: BATCHES batches of
#: BATCH_SIZE distinct queries at depth BATCH_K, CHECKED_PER_BATCH of each
#: (a seeded sample) compared with the oracle
BATCHES = 4
BATCH_SIZE = 64
BATCH_K = 10
CHECKED_PER_BATCH = 4
#: the library's default doc-slice width: new docs of an upsert get ids from
#: the next multiple of it above the largest id (index/mutations.py)
DOCS_PER_SLICE = 250_000
SCORE_RTOL = 1e-9


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


# ----------------------------------------------------------- measurement
def pct(values, q: float) -> float:
    """Percentile with linear interpolation; 0 for no samples (a layer that
    did no work on the workload)."""
    if len(values) == 0:
        return 0.0
    return float(np.percentile(np.asarray(values, dtype=float), q))


def tree_bytes(path: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(dirpath, f))
            except FileNotFoundError:
                pass
    return total


def table_bytes(warehouse: str) -> dict[str, int]:
    return {t: tree_bytes(os.path.join(warehouse, t))
            for t in sorted(os.listdir(warehouse))
            if os.path.isdir(os.path.join(warehouse, t))}


def vm_hwm_mb(pid: int | str) -> float:
    """Peak resident set (VmHWM) of a process, in MiB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def java_pid(launcher_pid: int) -> int:
    """The ``java`` process the Spark launcher became or started."""
    todo = [launcher_pid]
    while todo:
        pid = todo.pop()
        with open(f"/proc/{pid}/comm") as f:
            if f.read().strip() == "java":
                return pid
        for task in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{task}/children") as f:
                todo.extend(int(c) for c in f.read().split())
    raise RuntimeError("no java process under the Spark launcher")


# ------------------------------------------------------------ spark life
def start_spark(work: str, cores: int):
    """A session from the library's own factory, with every scratch file
    Spark and the JVM write kept under ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    root = os.getcwd()
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp  # pyspark's gateway handshake file goes here
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f'--driver-java-options "-Djava.io.tmpdir={tmp} -XX:-UsePerfData" '
        "pyspark-shell")
    # the JVM that spark-submit runs first to build the driver command
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ.setdefault("SPARK_DRIVER_MEM", "2g")
    from lucene_plugin_spark.session import get_spark
    spark = get_spark("perfbench", cores=cores, shuffle_partitions=max(cores, 8))
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and the Python workers it
    forked) to exit."""
    import subprocess

    from pyspark import SparkContext
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


# ----------------------------------------------------------------- oracle
def compare(g, want) -> str | None:
    """None when engine hits equal oracle hits, both as (doc_id, path, score)
    lists: same (doc_id, path) order, scores within SCORE_RTOL relative;
    else a one-line reason."""
    if [x[:2] for x in g] != [x[:2] for x in want]:
        return (f"hits differ: engine {len(g)} {g[:3]} vs oracle "
                f"{len(want)} {want[:3]}")
    for (d, _, s), (_, _, t) in zip(g, want):
        if not math.isclose(s, t, rel_tol=SCORE_RTOL):
            return f"score of doc {d}: engine {s!r} vs oracle {t!r}"
    return None


def oracle_for(corpus):
    from lucene_plugin_spark.oracle import OracleEngine
    return OracleEngine.from_rows(corpus[["repo", "path", "content"]]
                                  .to_dict("records"))


# ---------------------------------------------------------------- the run
class Run:
    def __init__(self, workload: str, seed: int, seconds: float, trace: bool,
                 n_docs: int, work: str):
        self.workload, self.seed, self.seconds = workload, seed, seconds
        self.n_docs, self.work = n_docs, work
        self.tracer = Tracer() if trace else None
        self.lat_ms: list[float] = []      # every measured search call
        self.attempted = 0
        self.failures: list[str] = []
        self.groups: list[str] = []        # Spark job group per measured op
        self.batch_ops: set[int] = set()   # op ids of search_many batches
        self.batch_s: list[float] = []     # wall time of each batch
        self.warm_s = 0.0
        self.metrics: dict[str, tuple[float, str]] = {}
        # index_refresh only: bytes added per table in each cycle, and the
        # bytes of content the cycles wrote
        self.cycle_bytes: list[dict[str, int]] = []
        self.user_bytes = 0
        self.refresh_s: list[float] = []   # first write to first probe's return
        self.commit_ms: list[float] = []   # the probe that commits a cycle
        self.read_ms: list[float] = []     # the probes after it

    # -- helpers -----------------------------------------------------------
    def _op(self, spark):
        """Start a measured operation: a new job group when tracing."""
        self.attempted += 1
        if self.tracer is not None:
            self.tracer.op = self.attempted
            group = f"perfbench-op-{self.attempted}"
            spark.sparkContext.setJobGroup(group, group)
            self.groups.append(group)

    def _search(self, spark, fac, coll: str, query: str, k: int):
        """One measured facade search; returns its hits as (doc_id, path,
        score) triples, or None when it failed."""
        self._op(spark)
        t = time.perf_counter()
        try:
            hits = fac.search(coll, query, limit=k)
        except Exception as e:  # a failed call is a counted failure
            self.failures.append(f"search {coll} {query!r} k={k}: {e!r}")
            return None
        finally:
            self.lat_ms.append((time.perf_counter() - t) * 1000.0)
            log(f"perfbench: search {coll} {query!r} k={k} "
                f"{self.lat_ms[-1]:.1f} ms")
        return [(e.id, e.external_id, e.score) for e in hits]

    def _set_metric(self, name: str, value: float, unit: str) -> None:
        self.metrics[name] = (float(value), unit)

    # -- set-up --------------------------------------------------------------
    def setup(self, spark, parquet: str, corpus):
        """Build the corpus index on a fresh warehouse and open a facade on
        it; returns the facade and its warehouse.

        search_interactive builds with ``IndexBuilder.build`` from the
        parquet corpus, then the facade answers one search, so its engine
        exists before the first measured query.  index_refresh has the
        facade write every corpus doc with ``index_text`` and commit; that
        first commit runs the same full ``IndexBuilder.build``, and it makes
        the base keys ones the facade may delete (``commit()`` deletes only
        keys it committed itself).  One build per run: the first build of a
        process pays about 15 s of JVM and Python-worker warm-up, so
        repeating it would not fit the run budget (README.md, "Sizing")."""
        from lucene_plugin_spark import LuceneFacade
        from lucene_plugin_spark.index.builder import IndexBuilder
        from lucene_plugin_spark.storage.catalog import Catalog
        wh = os.path.join(self.work, "warehouse")
        t0 = time.perf_counter()
        fac = LuceneFacade(spark, wh)
        if self.workload == "index_refresh":
            for repo, path, text in corpus[["repo", "path", "content"]].itertuples(
                    index=False):
                fac.index_text(repo, path, text)
            fac.commit()
            builder = fac.builder
        else:
            builder = IndexBuilder(spark, Catalog(wh))
            builder.build(spark.read.parquet(parquet))
        self.build_s = time.perf_counter() - t0
        self.stage_times = dict(builder.stage_times)
        if self.workload == "search_interactive":
            fac.search(*WARMUP_QUERY[:2], limit=WARMUP_QUERY[2])
        self.ready_s = time.perf_counter() - t0
        log(f"perfbench: build {self.build_s:.2f} s, ready {self.ready_s:.2f} s")
        self.index_bytes = tree_bytes(wh)
        return fac, wh

    # -- workloads -------------------------------------------------------------
    def search_interactive(self, spark, fac, wh, corpus):
        stream = inputs.query_stream(self.seed)
        asked = []
        self.t_measure = time.perf_counter()
        deadline = self.t_measure + self.seconds
        per_round = len(inputs.FAMILIES)
        while (len(asked) < MIN_ROUNDS * per_round or len(asked) % per_round
               or time.perf_counter() < deadline):
            coll, q, k = next(stream)
            asked.append((coll, q, k, self._search(spark, fac, coll, q, k)))
        self.measured_done(spark, wh)
        if self.tracer is not None:
            asked += self.batch_phase(spark, wh)
        self.trace_done(spark, wh)

        def check():
            orc = oracle_for(corpus)
            for coll, q, k, hits in asked:
                if hits is not None:
                    self._check(hits, orc.search(coll, q, k), f"{coll} {q!r} k={k}")
        return check

    def batch_phase(self, spark, wh) -> list[tuple]:
        """The search_batch layers, in a traced run only: a new engine on
        the built index is pinned with ``SearchEngine.warm()``, then
        ``search_many`` batches of distinct queries run back to back, one op
        each.  Returns a seeded sample of (collection, query, k, hits) for
        the oracle check."""
        from lucene_plugin_spark.query.executor import SearchEngine
        from lucene_plugin_spark.storage.catalog import Catalog
        self.tracer.op = None  # warm() is set-up of the batches, not an op
        spark.sparkContext.setJobGroup("perfbench-warm", "perfbench-warm")
        t = time.perf_counter()
        eng = SearchEngine(spark, Catalog(wh)).warm()
        self.warm_s = time.perf_counter() - t
        stream = inputs.query_stream(self.seed, stream=3)
        rng = np.random.default_rng([self.seed, 3])
        seen: set[tuple[str, str]] = set()
        sample = []
        for _ in range(BATCHES):
            batch = []
            while len(batch) < BATCH_SIZE:
                coll, q, _ = next(stream)
                if (coll, q) not in seen:
                    seen.add((coll, q))
                    batch.append((coll, q))
            self._op(spark)
            self.batch_ops.add(self.attempted)
            t = time.perf_counter()
            try:
                rows = eng.search_many([(str(i), c, q) for i, (c, q)
                                        in enumerate(batch)],
                                       limit=BATCH_K).collect()
            except Exception as e:  # a failed call is a counted failure
                self.failures.append(f"search_many batch {len(self.batch_s)}: "
                                     f"{e!r}")
                continue
            finally:
                self.batch_s.append(time.perf_counter() - t)
            hits: dict[int, list] = {i: [] for i in range(len(batch))}
            for r in rows:
                hits[int(r["query_id"])].append((r["doc_id"], r["path"],
                                                 r["score"]))
            for i in sorted(rng.choice(len(batch), CHECKED_PER_BATCH,
                                       replace=False)):
                got = sorted(hits[int(i)], key=lambda h: (-h[2], h[0]))
                sample.append((*batch[i], BATCH_K, got))
        log(f"perfbench: warm {self.warm_s:.2f} s, batches "
            + ", ".join(f"{x:.2f}" for x in self.batch_s) + " s")
        return sample

    def index_refresh(self, spark, fac, wh, corpus):
        stream = inputs.query_stream(self.seed, stream=2,
                                     families=inputs.REFRESH_FAMILIES)
        written = {(r, p): (0, t) for r, p, t in
                   corpus[["repo", "path", "content"]].itertuples(index=False)}
        cycles = []
        self.t_measure = time.perf_counter()
        deadline = self.t_measure + self.seconds
        cycle = 0
        while cycle < MIN_CYCLES or time.perf_counter() < deadline:
            cycle += 1
            plan = inputs.refresh_cycle(self.seed, cycle, corpus, written)
            before = table_bytes(wh) if self.tracer else None
            t0 = time.perf_counter()
            for repo, path, text in plan["writes"]:
                self._op(spark)
                try:
                    fac.index_text(repo, path, text)
                except Exception as e:
                    self.failures.append(f"index_text {repo} {path}: {e!r}")
            for repo, path in plan["deletes"]:
                self._op(spark)
                try:
                    fac.delete(repo, path)
                except Exception as e:
                    self.failures.append(f"delete {repo} {path}: {e!r}")
            # probe 1 commits the writes and must return exactly them; probe
            # 2 matches the deleted docs' rare tokens and must miss them; then
            # one stream query of each refresh family runs on the engine the
            # commit created
            probes = [(plan["repo"], inputs.marker(cycle), 255)]
            if plan["deleted_tokens"]:
                probes.append((plan["repo"], " ".join(plan["deleted_tokens"]), 255))
            probes += [next(stream) for _ in inputs.REFRESH_FAMILIES]
            results = [self._search(spark, fac, *probes[0])]
            self.refresh_s.append(time.perf_counter() - t0)
            results += [self._search(spark, fac, *p) for p in probes[1:]]
            self.commit_ms.append(self.lat_ms[-len(probes)])
            self.read_ms += self.lat_ms[1 - len(probes):]
            if self.tracer is not None:
                after = table_bytes(wh)
                self.cycle_bytes.append({t: after[t] - before.get(t, 0)
                                         for t in after})
            self.user_bytes += sum(len(t.encode()) for _, _, t in plan["writes"])
            for repo, path, text in plan["writes"]:
                written[(repo, path)] = (cycle, text)
            for key in plan["deletes"]:
                del written[key]
            cycles.append({**plan, "probes": probes, "results": results})
        self.measured_done(spark, wh)
        self.trace_done(spark, wh)
        log("perfbench: refresh cycles took "
            + ", ".join(f"{x:.2f}" for x in self.refresh_s) + " s")

        def check():
            self._replay(corpus, cycles)
        return check

    def _replay(self, corpus, cycles) -> None:
        """Replay the facade's commits into the oracle, cycle by cycle, and
        compare every probe.  Mirrors ``LuceneFacade.commit``: the pending
        ops keep the last state per key; deletes apply only to keys the
        facade has committed; upserts get fresh ids from the next slice
        boundary, in (repo, path) order."""
        orc = oracle_for(corpus)
        committed = set(zip(corpus["repo"], corpus["path"]))
        max_doc = len(corpus) - 1
        for c in cycles:
            pending = {(r, p): t for r, p, t in c["writes"]}
            pending.update({k: None for k in c["deletes"]})
            for key in [k for k, v in pending.items() if v is None]:
                if key in committed:
                    orc.delete(*key)
                    committed.discard(key)
            ups = sorted(k for k, v in pending.items() if v is not None)
            base = (max_doc // DOCS_PER_SLICE + 1) * DOCS_PER_SLICE
            for i, key in enumerate(ups):
                orc.index_doc(key[0], key[1], {"text": pending[key]},
                              doc_id=base + i)
            max_doc = base + len(ups) - 1
            committed |= set(ups)
            for (coll, q, k), hits in zip(c["probes"], c["results"]):
                if hits is not None:
                    self._check(hits, orc.search(coll, q, k), f"{coll} {q!r} k={k}")

    def _check(self, hits, want, what: str) -> None:
        why = compare(hits, want)
        if why is not None:
            self.failures.append(f"oracle mismatch on {what}: {why}")

    def measured_done(self, spark, wh) -> None:
        """Readings taken right after the measured phase, before the oracle
        check adds its own memory."""
        from pyspark import SparkContext
        self.measure_s = time.perf_counter() - self.t_measure
        self.driver_rss = vm_hwm_mb("self")
        self.jvm_rss = vm_hwm_mb(java_pid(SparkContext._gateway.proc.pid))
        self.final_bytes = tree_bytes(wh)

    def trace_done(self, spark, wh) -> None:
        """Traced runs: Spark counts per op and the segment layout."""
        if self.tracer is not None:
            self.tracer.op = None
            spark.sparkContext.setJobGroup("perfbench-idle", "perfbench-idle")
            self.counts = spark_counts(spark.sparkContext, self.groups)
            data = os.path.join(wh, "segments", "data")
            self.segment_dirs = sum(
                1 for snap in os.listdir(data)
                for d in os.listdir(os.path.join(data, snap))
                if d.startswith("dslice="))

    # -- metrics ----------------------------------------------------------------
    def user_search_ms(self) -> list[float]:
        """The searches ``search_ms.*`` is over: every measured search on
        search_interactive; on index_refresh the search that commits each
        cycle's writes, the refresh a searcher waits for.  Post-commit reads
        varied about twice as much between runs, so they are the per-layer
        ``refresh.read_ms.p50``."""
        return self.commit_ms if self.workload == "index_refresh" else self.lat_ms

    def end_to_end(self, session_s: float, source_bytes: int) -> None:
        self._set_metric("setup_s", session_s + self.ready_s, "s")
        self._set_metric("search_ms.p50", pct(self.user_search_ms(), 50), "ms")
        self._set_metric("search_ms.p95", pct(self.user_search_ms(), 95), "ms")
        self._set_metric("build_docs_per_s", self.n_docs / self.build_s, "docs/s")
        self._set_metric("index_bytes_per_source_byte",
                         self.index_bytes / source_bytes, "B/B")
        self._set_metric("warehouse_bytes_per_source_byte",
                         self.final_bytes / source_bytes, "B/B")
        self._set_metric("driver_peak_rss_mb", self.driver_rss, "MB")

    def per_layer(self) -> None:
        tr = self.tracer
        m = self._set_metric
        ops = set(range(1, self.attempted + 1)) - self.batch_ops
        n_ops = max(len(ops), 1)
        searches = tr.named("api.search", ops)
        cached = [s for s in searches if not any(
            c["name"] == "executor.search" for c in tr.children(s))]
        m("api.search.calls", len(searches), "count")
        m("api.search.self_ms.p50",
          pct([tr.self_time(s) * 1e3 for s in searches], 50), "ms")
        m("api.search.child_share.p50", pct(
            [1 - tr.self_time(s) / tr.duration(s) for s in searches], 50), "frac")
        m("api.results_cache.hits", len(cached), "count")
        # commits that applied writes; without writes, the no-op commit
        # every search makes
        commits = tr.named("api.commit", ops)
        m("api.commit_s.p50", pct([tr.duration(s) for s in commits
                                   if tr.children(s)] or
                                  [tr.duration(s) for s in commits], 50), "s")
        parses = tr.named("parser.parse_query", ops)
        m("parser.parse_query.calls", len(parses), "count")
        m("parser.parse_query.ms.p50",
          pct([tr.duration(s) * 1e3 for s in parses], 50), "ms")
        for name in ("executor.search", "executor.collect",
                     "executor.search_many", "executor.batch_collect"):
            m(f"{name}.ms.p50", pct([tr.duration(s) * 1e3 for s in
                                     tr.named(name, ops | self.batch_ops)],
                                    50), "ms")
        m("executor.warm_s", self.warm_s, "s")
        m("executor.batch_qps", BATCH_SIZE * len(self.batch_s)
          / sum(self.batch_s) if self.batch_s else 0.0, "1/s")
        # (jobs, stages, tasks) per op; op i ran under job group i - 1
        counts = np.asarray(self.counts, dtype=float).reshape(-1, 3)
        user = counts[[i - 1 for i in sorted(ops)]]
        for j, what in enumerate(("jobs", "stages", "tasks")):
            m(f"spark.{what}_per_op", user[:, j].sum() / n_ops, "count")
        m("spark.jobs_per_batch", counts[[i - 1 for i in sorted(
            self.batch_ops)], 0].mean() if self.batch_ops else 0.0, "count")
        m("builder.ingest_s", tr.duration(tr.named("builder.ingest_docs")[0]), "s")
        for stage in ("count", "docs_meta", "segments", "derived"):
            m(f"builder.{stage}_s", self.stage_times[stage], "s")
        for name in ("upsert", "delete_keys"):
            spans = tr.named(f"mutations.{name}", ops)
            m(f"mutations.{name}.calls", len(spans), "count")
            m(f"mutations.{name}_s.p50", pct([tr.duration(s) for s in spans],
                                             50), "s")
        m("refresh_s.p50", pct(self.refresh_s, 50), "s")
        m("refresh.read_ms.p50", pct(self.read_ms, 50), "ms")
        commits = [s for s in tr.spans if s["name"].startswith("catalog.")]
        m("catalog.commits_per_op",
          sum(1 for s in commits if s["op"] in ops) / n_ops, "count")
        m("catalog.commit_ms.p50",
          pct([tr.duration(s) * 1e3 for s in commits], 50), "ms")
        m("catalog.segment_dirs", self.segment_dirs, "count")
        for table in ("docs", "docs_meta", "segments", "doc_norms",
                      "term_dict", "stats", "tombstones"):
            per = [b.get(table, 0) for b in self.cycle_bytes]
            m(f"catalog.bytes_written.{table}",
              statistics.median(per) if per else 0, "B")
        m("refresh_write_amp", sum(sum(b.values()) for b in self.cycle_bytes)
          / self.user_bytes if self.user_bytes else 0.0, "B/B")
        m("jvm_peak_rss_mb", self.jvm_rss, "MB")
        m("failed_frac", len(self.failures) / max(self.attempted, 1), "frac")
        m("trace.search_ms.p50", pct(self.user_search_ms(), 50), "ms")
        spans_per_op = sum(1 for s in tr.spans if s["op"] in ops) / n_ops
        m("trace.overhead_frac", spans_per_op * span_cost_s()
          / (pct(self.user_search_ms(), 50) / 1e3), "frac")

def run(workload: str, seed: int, seconds: float, trace: bool, n_docs: int,
        state_dir: str, t_process: float) -> dict:
    r = Run(workload, seed, seconds, trace, n_docs,
            os.path.join(state_dir, "work", str(os.getpid())))
    t_inputs = time.perf_counter()
    parquet = inputs.corpus_parquet(os.path.join(state_dir, "cache"), seed, n_docs)
    import pandas as pd
    corpus = pd.read_parquet(parquet)
    inputs_s = time.perf_counter() - t_inputs
    cores = len(os.sched_getaffinity(0))
    os.makedirs(r.work, exist_ok=True)
    spark = start_spark(r.work, cores)
    # set-up runs from process start; input generation is excluded
    session_s = time.perf_counter() - t_process - inputs_s
    log(f"perfbench: inputs {inputs_s:.2f} s, session {session_s:.2f} s")
    try:
        if r.tracer is not None:
            r.tracer.install()
        try:
            fac, wh = r.setup(spark, parquet, corpus)
            check = getattr(r, workload)(spark, fac, wh, corpus)
        finally:
            if r.tracer is not None:
                r.tracer.uninstall()
    finally:
        stop_spark(spark)
        shutil.rmtree(r.work, ignore_errors=True)
    log(f"perfbench: measured {r.measure_s:.2f} s, stopped at "
        f"{time.perf_counter() - t_process:.2f} s")
    check()
    log(f"perfbench: checked at {time.perf_counter() - t_process:.2f} s")
    source_bytes = sum(len(t.encode()) for t in corpus["content"])
    if trace:
        r.per_layer()
        out = os.path.join(state_dir, "out")
        os.makedirs(out, exist_ok=True)
        r.tracer.dump(os.path.join(out, f"spans-{workload}-s{seed}.json"))
    else:
        r.end_to_end(session_s, source_bytes)
    for f in r.failures:
        log(f"FAILED {f}")
    return {"correct": not r.failures, "attempted": r.attempted,
            "failed": len(r.failures),
            "metrics": {k: {"value": v, "unit": u}
                        for k, (v, u) in r.metrics.items()}}
