"""Incremental index mutations: upsert / delete / clear (reference W2-W4,
SURVEY.md §2.3) without full rebuild — O(batch + touched partitions), not
O(corpus).

Semantics (LuceneIndexBean.java:256,343 updateDocument; :462-540 deletes):
- upsert = last-write-wins by (repo, path): the old doc is dead and the new
  content gets a NEW docID (exactly like Lucene's delete+add);
- delete by key / clear collection = tombstone the docIDs; a delete of a key
  that is not live is a no-op.

One commit is ONE mutation pass — ``upsert(updates, deletes=keys)``, or
``delete_keys(keys)`` when nothing is upserted — and writes each table at
most once:

1. resolve: one query joins every batch key (upserted ∪ deleted) with the
   live docs_meta, computes the key's (repo, kb) docs bucket and the next
   docID base.  Victims, touched buckets and the base come back to the
   driver as O(batch) rows.
2. tombstones: one append of the victims' docIDs, partitioned by dslice (the
   query kernel reads its slice's tombstones task-locally, like the norms
   sidecar, and the DataFrame path anti-joins — Lucene's liveDocs bitmap).
3. docs: merge-on-read, as Lucene's ``updateDocument`` (a delete by key
   plus an add; stored fields already written are never rewritten) and
   Iceberg v2 equality deletes.  One snapshot appends the upserted rows as
   a new root and a delete root listing every batch key it replaces or
   deletes, both partitioned by (repo, kb) (``Table.row_delta``), so a
   commit writes O(batch) docs bytes whatever the bucket size;
   ``Table.read`` hides the replaced rows (``storage/catalog.py``).
   ``compact()`` merges each partition that carries deletes back into one
   file of its live rows.
4. new docs get dense docIDs from the next slice boundary above max_doc, in
   (repo, path) order, so they only ever create FRESH doc-slices: docs_meta,
   doc_norms and segments take one pure append each and existing slice files
   are never rewritten.  docs_meta carries a ``gen`` column so collection
   filters stay numeric range predicates (per (repo, gen) runs).  The
   slice width is the one persisted on the segments snapshot
   (``IndexBuilder.docs_per_slice``), whatever the mutator's builder was
   opened with, and every new segments snapshot carries it forward.
5. term_dict / stats: EXACT DELTAS, one overwrite each, never a full
   recompute.  The dead docs' stored ``docs`` rows — read from the
   pre-commit snapshot, pruned to the touched buckets — are re-analysed in
   the same tokenize pass as the new docs, signed −1 against the new docs'
   +1, so the delta is O(batch) work, not a decode of every posting in the
   victims' doc-slices.  BM25 df/N/avgdl always reflect the live doc set —
   *stronger* than Lucene, which serves stale df until merge.

Steps 2-5 write different tables and read only snapshots pinned before
they start, so they run side by side (``_run_concurrently``).

The pass runs in one of two places, picked by one function
(``_task_plan``, the write-side twin of ``SearchEngine._route``):

- **one task** — a batch that arrives as a local pandas frame (the
  facade's pending rows) and whose read bytes (the touched (repo, kb) docs
  partitions' data and delete files, and docs_meta, term_dict, tombstones
  and stats, sized from file lengths) fit under ``task_pass_max_bytes``.
  The batch becomes one pandas-backed frame whose ``kb`` and
  ``content_sha256`` are the Spark expressions below, and ONE
  ``mapInArrow`` task (``index/task_pass.py``) runs steps 1-5 with pyarrow
  and the build's fused segment kernel: it writes the docs rows and key
  deletes of step 3 and every other table image as zstd parquet in the
  table's recorded schema, and reads the victims' stored rows one docs
  file at a time, filtered to their paths.  The driver then commits one
  snapshot per table (``Table.commit_dirs``).  A facade commit is one Spark
  job.  The task runs in an executor's Python worker, not the driver, so
  the driver's memory does not grow with the pass.
- **Spark** — DataFrame batches (the streaming sink, bulk upserts) and
  local batches over the ceiling: the steps above as Spark jobs.

Both passes write the same rows (``test_commit_routes_identical``).

``clear`` tombstones a whole collection, drops its docs partitions (data
and delete entries) as a metadata-only commit and takes the same
re-analysed dead delta.
``compact()`` = the tiered merge stage (W7, the analogue of Lucene's
TieredMergePolicy at LuceneIndexBean.java:681-686): only doc-slices whose
tombstone fraction crosses a threshold are rewritten (dirty-slice partition
swap); clean slices' files are untouched, their manifests carried forward.
"""

from __future__ import annotations

import os
import re
from concurrent.futures import ThreadPoolExecutor
from functools import partial, reduce
from urllib.parse import unquote

import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.util import inheritable_thread_target

from lucene_plugin_spark.index import task_pass
from lucene_plugin_spark.index.builder import IndexBuilder, flat_postings_view
from lucene_plugin_spark.session import local_frame
from lucene_plugin_spark.storage.catalog import (Catalog, data_files,
                                                  entry_path, root_name)

KEY_SCHEMA = "repo string, path string"
META_COLS = ("repo", "path", "commit", "lang", "doc_id", "dslice", "gen")
DOC_COLS = ("repo", "path", "commit", "lang", "content")
#: a local batch: upsert rows (up) and delete keys (not up) in one frame
BATCH_SCHEMA = ("repo string, path string, commit string, lang string, "
                "content string, fields map<string,string>, up boolean")
#: the tables the one-task pass reads and rewrites, besides tombstones
TASK_TABLES = ("docs", "docs_meta", "segments", "doc_norms", "term_dict", "stats")
#: partition values that hive-encode to themselves (Spark escapes the rest)
_HIVE_PLAIN = re.compile(r'[^\x00-\x1f\x7f"#%\'*/:=?\\{}\[\]^]+')


def _run_concurrently(spark: SparkSession, writes: list) -> None:
    """Run a pass's table writes side by side.  Each writes a different
    table and reads only snapshots pinned before the pass started, so their
    order does not matter; at batch size each is a small Spark job plus a
    catalog commit, so overlapping them hides per-job latency.  Spark local
    properties (job group, description) follow each write into its thread."""
    with ThreadPoolExecutor(max_workers=len(writes)) as pool:
        inherit = inheritable_thread_target(spark)
        if isinstance(inherit, SparkSession):  # pinned-thread mode is off
            inherit = lambda w: w  # noqa: E731
        for fut in [pool.submit(inherit(w)) for w in writes]:
            fut.result()


class IndexMutator:
    def __init__(self, spark: SparkSession, catalog: Catalog, builder: IndexBuilder):
        self.spark = spark
        self.catalog = catalog
        self.builder = builder

    # ------------------------------------------------------------ helpers
    def _meta(self) -> DataFrame:
        return self.catalog.table("docs_meta").read(self.spark)

    def _live_meta(self, meta: DataFrame | None = None) -> DataFrame:
        """docs_meta (or the given read of it) minus already-tombstoned
        rows.  Victim resolution MUST use this: docs_meta keeps dead rows
        until compaction, and re-killing an already-dead docID would subtract
        its postings from term_dict and stats a second time (the aggregates
        are delta-maintained)."""
        meta = self._meta() if meta is None else meta
        tt = self.catalog.table("tombstones")
        if tt.exists():
            meta = meta.join(tt.read(self.spark).select("doc_id"),
                             "doc_id", "left_anti")
        return meta

    def _tombstone(self, doc_ids: DataFrame) -> None:
        """Append doc_ids (column 'doc_id') to the tombstones table."""
        dps = self.builder.docs_per_slice
        t = doc_ids.select(
            F.col("doc_id").cast("long"),
            (F.col("doc_id") / F.lit(dps)).cast("int").alias("dslice"))
        tt = self.catalog.table("tombstones")
        if tt.exists():
            tt.append(t, partition_by=["dslice"])
        else:
            tt.overwrite(t, partition_by=["dslice"])

    def _docs_properties(self) -> dict:
        """Properties of a new docs snapshot.  ``doc_buckets`` must carry
        over to every snapshot: later mutations hash keys to buckets by it."""
        return {"stage": "docs", "doc_buckets": self.builder._bucket_count() or 8}

    def _resolve(self, keys: DataFrame) -> tuple[list, int | None, int | None]:
        """The pass's one resolve query.  ``keys``: (repo, path, up) batch
        rows.  Returns one row per (batch key, live doc) match — (repo, path,
        up, kb, doc_id, dslice), doc_id NULL for a key with no live doc —
        plus max(doc_id) and max(gen) over all of docs_meta, aggregated in
        the same query."""
        meta = self._meta()
        live = self._live_meta(meta).select("repo", "path", "doc_id", "dslice")
        tops = meta.agg(F.max("doc_id").alias("max_doc"),
                        F.max("gen").alias("max_gen"))
        rows = (keys.withColumn("kb", self.builder.key_bucket(F.col("repo"),
                                                              F.col("path")))
                .join(live, ["repo", "path"], "left")
                .crossJoin(tops)
                .collect())
        if not rows:
            return [], None, None
        return rows, rows[0]["max_doc"], rows[0]["max_gen"]

    # ------------------------------------------------------------ mutations
    #: the one-task pass runs when the file bytes it reads — the touched
    #: (repo, kb) docs partitions' data and delete files, and docs_meta,
    #: term_dict, tombstones and stats — fit under this.  Measured when it
    #: still decoded the touched docs partitions whole: for a
    #: 16-write / 4-delete commit its Python worker grew 14-19 bytes per byte
    #: read (+373-448 MB at 24.9 MB, +425-523 MB at 31.2 MB, +558-564 MB at
    #: 38.3 MB), so 24 MB keeps it within Spark's default 512 MB
    #: ``spark.python.worker.memory``.  Up to 38.3 MB it still beat the
    #: Spark pass in every pair (0.6-2.5 s against 3.6-6.9 s, ``local[4]``
    #: on 4 vCPU).
    task_pass_max_bytes = 24 << 20

    def upsert(self, updates, deletes=None,
               fields_map_col: str | None = None) -> int:
        """Last-write-wins upsert of (repo, path, commit, lang, content
        [, fields]) rows and delete of the (repo, path) ``deletes`` keys, as
        one commit.  Deletes apply to the pre-batch state, so a key both
        deleted and upserted ends upserted.  Either may be a DataFrame or a
        local pandas frame.  Returns the number of upserted docs."""
        return self._apply(updates, deletes, fields_map_col)[0]

    def delete_keys(self, keys) -> int:
        """Delete by (repo, path) keys (a DataFrame or a local pandas
        frame).  Returns count tombstoned."""
        return self._apply(None, keys)[1]

    def delete(self, repo: str, path: str) -> bool:
        return self.delete_keys(pd.DataFrame({"repo": [repo], "path": [path]})) > 0

    def _docs_rows(self, updates: DataFrame, fields_map_col: str | None) -> DataFrame:
        """Upsert rows in docs-table shape, with the key bucket and the
        content hash."""
        cols = [F.col(c) for c in DOC_COLS]
        if fields_map_col:
            cols.append(F.col(fields_map_col).alias("fields"))
        else:
            cols.append(F.lit(None).cast("map<string,string>").alias("fields"))
        return self._hashed(updates.select(*cols))

    def _hashed(self, rows: DataFrame) -> DataFrame:
        return (rows.withColumn("content_sha256", F.sha2(F.col("content"), 256))
                .withColumn("kb", self.builder.key_bucket(F.col("repo"),
                                                          F.col("path"))))

    def _apply(self, updates, deletes, fields_map_col: str | None = None
               ) -> tuple[int, int]:
        """Run one commit on the pass :meth:`_task_plan` picks for a local
        batch; a batch with a DataFrame side takes the Spark pass.  Returns
        (upserted, tombstoned)."""
        if not any(isinstance(x, DataFrame) for x in (updates, deletes)):
            batch = self._local_batch(updates, deletes, fields_map_col)
            plan = self._task_plan(batch)
            if plan is not None:
                return self._task_pass(batch, plan)
            return self._commit(
                None if updates is None else batch.where("up").drop("up"),
                None if deletes is None
                else batch.where("NOT up").select("repo", "path"))
        if isinstance(updates, DataFrame):
            updates = self._docs_rows(updates, fields_map_col)
        return self._commit(updates, deletes)

    def _local_batch(self, updates, deletes, fields_map_col) -> DataFrame:
        """A local batch as ONE pandas-backed frame (a ``LocalTableScan``)
        of :data:`BATCH_SCHEMA` rows plus ``content_sha256`` and ``kb``,
        which Spark computes on the driver when the frame is planned."""
        parts = []
        for rows, up in ((updates, True), (deletes, False)):
            if rows is None:
                continue
            n = len(rows)
            part = pd.DataFrame({c: list(rows[c]) if c in rows.columns
                                 else [None] * n for c in DOC_COLS})
            part["fields"] = (list(rows[fields_map_col]) if up and fields_map_col
                              else [None] * n)
            part["up"] = up
            parts.append(part)
        return self._hashed(self.spark.createDataFrame(
            pd.concat(parts, ignore_index=True), BATCH_SCHEMA))

    def _task_plan(self, batch: DataFrame) -> dict | None:
        """Where a local batch's pass runs, the write-side twin of
        ``SearchEngine._route``: the plan of the one-task pass
        (:mod:`task_pass`), or None for the Spark pass.  The one-task pass
        needs every table it writes to exist with a recorded schema, the
        batch's collections to be plain hive partition values, and the bytes
        it reads (the touched docs partitions' data and delete files, and
        every file of docs_meta, term_dict, tombstones and stats) under
        :attr:`task_pass_max_bytes`.  The batch's (repo, kb) pairs come
        from the local frame without a Spark job."""
        snaps = {}
        for name in TASK_TABLES:
            t = self.catalog.table(name)
            snaps[name] = t.snapshot() if t.exists() else None
            if snaps[name] is None or snaps[name].schema_json is None:
                return None
        pairs = {(r["repo"], r["kb"]) for r in batch.select("repo", "kb").collect()}
        if not all(_HIVE_PLAIN.fullmatch(repo) for repo, _ in pairs):
            return None
        docs_t = self.catalog.table("docs")
        leaves, dels = (docs_t.partition_dirs(["repo", "kb"], pairs, deletes=d)
                        for d in (False, True))
        tt = self.catalog.table("tombstones")
        tomb = tt.snapshot() if tt.exists() else None
        read = data_files([e for part in (leaves, dels)
                           for entries in part.values() for e in entries]
                          + (tomb.data_dirs if tomb else [])
                          + [d for name in ("docs_meta", "term_dict", "stats")
                             for d in snaps[name].data_dirs])
        if sum(os.path.getsize(f) for f in read) > self.task_pass_max_bytes:
            return None
        plan = {name: {"dirs": snaps[name].data_dirs,
                       "schema": snaps[name].schema_json,
                       "root": self.catalog.table(name).new_data_dir()}
                for name in TASK_TABLES}
        snap = snaps["docs"]
        plan["docs"]["leaves"] = [
            (repo, int(kb), *([(entry_path(e), snap.seq(e))
                               for e in part.get((repo, kb), [])]
                              for part in (leaves, dels)))
            for repo, kb in set(leaves) | set(dels)]
        plan["docs"]["deletes"] = docs_t.new_data_dir()
        plan["tombstones"] = {
            "dirs": tomb.data_dirs if tomb else [],
            "schema": (tomb and tomb.schema_json) or task_pass.TOMBSTONES_SCHEMA,
            "root": tt.new_data_dir()}
        plan.update(docs_per_slice=self.builder.docs_per_slice,
                    block_size=self.builder.block_size,
                    analyzer=self.builder.analyzer,
                    index_sort=self.builder.index_sort)
        return plan

    def _task_pass(self, batch: DataFrame, plan: dict) -> tuple[int, int]:
        """The one-task pass: one ``mapInArrow`` task writes every table
        image (:mod:`task_pass`), then the driver commits one snapshot per
        table.  Returns (upserted, tombstoned)."""
        rows = {r["tbl"]: r for r in batch.coalesce(1).mapInArrow(
            task_pass.make_commit_kernel(plan), task_pass.RESULT_DDL).collect()}
        if not rows:
            return 0, 0
        props = {"docs": self._docs_properties(),
                 "docs_meta": {"stage": "docs_meta"},
                 "segments": self.builder.segments_properties(stage="segments"),
                 "term_dict": {"stage": "term_dict", "delta_update": True},
                 "stats": {"stage": "stats", "delta_update": True}}
        for name in ("tombstones", "docs", "docs_meta", "doc_norms",
                     "segments", "term_dict", "stats"):
            r = rows.get(name)
            if r is None:
                continue
            t = self.catalog.table(name)
            kw = {"schemas": {root_name(r["root"]): r["schema"]},
                  "properties": props.get(name, {})}
            if name == "docs":
                kw["schemas"][root_name(r["deletes"])] = task_pass.DOCS_DELETES_SCHEMA
                t.commit_dirs([r["root"]] if r["n_rows"] else [], append=True,
                              delete_dirs=[r["deletes"]], **kw)
            else:
                t.commit_dirs([r["root"]],
                              append=name not in ("term_dict", "stats"), **kw)
        if "doc_norms" in rows:
            norms_snap = self.catalog.table("doc_norms").snapshot()
            self.catalog.table("field_lens").commit_dirs(
                norms_snap.data_dirs, schemas=norms_snap.schemas,
                properties={"stage": "field_lens"})
        n = {name: r["n_rows"] for name, r in rows.items()}
        return n.get("docs_meta", 0), n.get("tombstones", 0)

    def _commit(self, updates: DataFrame | None,
                deletes: DataFrame | None) -> tuple[int, int]:
        """The mutation pass (module docstring, steps 1-5).  ``updates`` is
        already in docs-table shape.  Returns (upserted, tombstoned)."""
        keys = []
        if updates is not None:
            keys.append(updates.select("repo", "path", F.lit(True).alias("up")))
        if deletes is not None:
            keys.append(deletes.select("repo", "path", F.lit(False).alias("up")))
        rows, max_doc, max_gen = self._resolve(reduce(DataFrame.unionByName, keys))
        ups = [r for r in rows if r["up"]]
        victims = {r["doc_id"]: r for r in rows if r["doc_id"] is not None}
        if not ups and not victims:
            return 0, 0
        kv = partial(local_frame, self.spark)  # driver rows -> tiny local frames
        writes = []
        if victims:
            tomb = kv([(int(d),) for d in victims], "doc_id long")
            writes.append(lambda: self._tombstone(tomb))

        # docs, merge-on-read: the upserted rows and a delete of every gone
        # key, one snapshot (``Table.row_delta``); no stored row is
        # rewritten.  The victims' rows are read from the pre-commit
        # snapshot, where they are still live.
        docs_t = self.catalog.table("docs")
        gone = kv(sorted({(r["repo"], r["path"], int(r["kb"]))
                          for r in [*ups, *victims.values()]}),
                  KEY_SCHEMA + ", kb int")
        docs = docs_t.read(self.spark)
        props = self._docs_properties()
        writes.append(lambda: docs_t.row_delta(
            updates.select(*docs.columns) if ups else None, gone,
            ["repo", "kb"], properties=props))
        dead_docs = None
        if victims:
            # pruned to the victims' (repo, kb) partitions
            cond = reduce(lambda a, b: a | b, [
                (F.col("repo") == repo) & (F.col("kb") == kb)
                for repo, kb in sorted({(r["repo"], int(r["kb"]))
                                        for r in victims.values()})])
            dead_keys = kv([(r["repo"], r["path"], int(d))
                            for d, r in victims.items()],
                           KEY_SCHEMA + ", doc_id long")
            dead_docs = docs.where(cond).join(F.broadcast(dead_keys),
                                              ["repo", "path"])

        new_meta = None
        if ups:
            # new docIDs start at the NEXT slice boundary above max_doc: new
            # docs only ever create fresh doc-slices, so the appends never
            # rewrite an existing slice file (the docID gap is harmless)
            dps = self.builder.docs_per_slice
            base = ((int(max_doc) // dps) + 1) * dps if max_doc is not None else 0
            new_meta = (self.builder.assign_doc_ids(updates,
                                                    n_parts=-(-len(ups) // dps))
                        .withColumn("doc_id", F.col("doc_id") + F.lit(base))
                        .withColumn("gen", F.lit(int(max_gen or 0) + 1))
                        .withColumn("dslice",
                                    (F.col("doc_id") / F.lit(dps)).cast("int")))
            writes.append(lambda: self.catalog.table("docs_meta").append(
                new_meta.select(*META_COLS), partition_by=["dslice"],
                properties={"stage": "docs_meta"}))
        flat = self._postings_writes(new_meta, dead_docs, writes)
        _run_concurrently(self.spark, writes)
        flat.unpersist()
        self.builder._release_id_cache()
        return len(ups), len(victims)

    def _postings_writes(self, new_meta: DataFrame | None,
                         dead_docs: DataFrame | None, writes: list) -> DataFrame:
        """Tokenize the new docs (+1) and the dead docs' stored rows (−1) in
        ONE persisted ``doc_postings_df`` pass, and queue the writes that
        consume it: the new docs' norms and segment blocks (appends), and
        both signs folded into one term_dict and one stats overwrite.  Dead
        rows travel as doc_id ``-1 - doc_id``: the sign rides on the id, and
        a dead id never collides with a live one.  Returns the persisted
        postings for the caller to release once the writes have run."""
        src = []
        if new_meta is not None:
            src.append(new_meta.select("doc_id", "content", "fields"))
        if dead_docs is not None:
            src.append(dead_docs.select((F.lit(-1) - F.col("doc_id")).alias("doc_id"),
                                        "content", "fields"))
        flat = self.builder.doc_postings_df(reduce(DataFrame.unionByName, src)).persist()
        sign = F.when(F.col("doc_id") < 0, F.lit(-1)).otherwise(F.lit(1))
        lens = (flat.select("field", "doc_id", F.col("dl").cast("long").alias("dl"))
                .distinct())
        if new_meta is not None:
            dps = self.builder.docs_per_slice
            norms_new = (lens.where(F.col("doc_id") >= 0)
                         .withColumn("dslice", (F.col("doc_id") / F.lit(dps)).cast("int")))

            def norms() -> None:
                self.catalog.table("doc_norms").append(
                    norms_new.repartition(F.col("dslice"))
                    .sortWithinPartitions("field", "doc_id"),
                    partition_by=["dslice"])
                # field_lens shares doc_norms' data files (same schema
                # minus layout)
                norms_snap = self.catalog.table("doc_norms").snapshot()
                self.catalog.table("field_lens").commit_dirs(
                    norms_snap.data_dirs, schemas=norms_snap.schemas,
                    properties={"stage": "field_lens"})

            # segment blocks for the new docs: pure append of fresh dslice
            # dirs (the new docIDs are slice-aligned)
            blocks = (self.builder.segment_blocks(flat.where(F.col("doc_id") >= 0))
                      .repartition(F.col("dslice"))
                      .sortWithinPartitions("field", "term", "first_doc"))
            seg_props = self.builder.segments_properties(stage="segments")
            writes += [norms, lambda: self.catalog.table("segments").append(
                blocks, partition_by=["dslice"], properties=seg_props)]

        delta = flat.groupBy("field", "term").agg(
            F.sum(sign).cast("long").alias("d_df"),
            F.sum(sign * F.col("tf")).cast("long").alias("d_cf"))
        td = (self.catalog.table("term_dict").read(self.spark)
              .join(delta, ["field", "term"], "full_outer")
              .select("field", "term",
                      (F.coalesce(F.col("df"), F.lit(0))
                       + F.coalesce(F.col("d_df"), F.lit(0))).cast("long").alias("df"),
                      (F.coalesce(F.col("cf"), F.lit(0))
                       + F.coalesce(F.col("d_cf"), F.lit(0))).cast("long").alias("cf"))
              .where(F.col("df") > 0))
        sdelta = lens.groupBy("field").agg(
            F.sum(sign).cast("long").alias("d_n"),
            F.sum(sign * F.col("dl")).cast("long").alias("d_sum"))
        st = (self.catalog.table("stats").read(self.spark)
              .join(sdelta, "field", "full_outer")
              .select("field",
                      (F.coalesce(F.col("n_docs"), F.lit(0))
                       + F.coalesce(F.col("d_n"), F.lit(0))).cast("long").alias("n_docs"),
                      (F.coalesce(F.col("sum_dl"), F.lit(0))
                       + F.coalesce(F.col("d_sum"), F.lit(0))).cast("long").alias("sum_dl"))
              .where(F.col("n_docs") > 0)
              .withColumn("avgdl", F.col("sum_dl").cast("double")
                          / F.col("n_docs").cast("double")))
        writes += [
            lambda: self.catalog.table("term_dict").overwrite(
                td, properties={"stage": "term_dict", "delta_update": True}),
            lambda: self.catalog.table("stats").overwrite(
                st, properties={"stage": "stats", "delta_update": True})]
        return flat

    def clear(self, repo: str) -> int:
        """Delete every doc in a collection (reference W4 'clear'): tombstone
        its live docIDs, drop its (repo, kb) docs partitions as a
        METADATA-ONLY commit (no data files read or written), and take the
        dead delta by re-analysing the dropped rows."""
        victims = (self._live_meta().where(F.col("repo") == repo)
                   .select("repo", "path", "doc_id").persist())
        n = victims.count()
        if n == 0:
            victims.unpersist()
            return 0
        docs_t = self.catalog.table("docs")
        dropped = [v for d in (False, True)
                   for v in docs_t.partition_values(["repo", "kb"], deletes=d)
                   if v[0] == repo]
        dead_docs = (docs_t.read(self.spark).where(F.col("repo") == repo)
                     .join(victims, ["repo", "path"]))
        props = self._docs_properties()
        writes = [lambda: self._tombstone(victims),
                  lambda: docs_t.drop_partitions(["repo", "kb"], dropped,
                                                 properties=props,
                                                 lineage={"cleared_repo": repo})]
        flat = self._postings_writes(None, dead_docs, writes)
        _run_concurrently(self.spark, writes)
        flat.unpersist()
        victims.unpersist()
        return n

    # ------------------------------------------------------------ compaction
    def _merge_docs(self) -> None:
        """The stored-fields half of a merge: every docs partition that
        carries deletes becomes one file of its live rows, and its delete
        entries go, in one ``replace_partitions``."""
        docs_t = self.catalog.table("docs")
        merged = sorted(docs_t.partition_values(["repo", "kb"], deletes=True))
        if not merged:
            return
        # dir names are hive-escaped partition values
        cond = reduce(lambda a, b: a | b, [
            (F.col("repo") == unquote(repo)) & (F.col("kb") == int(kb))
            for repo, kb in merged])
        live = docs_t.read(self.spark).where(cond)
        docs_t.replace_partitions(
            live.repartition(F.col("repo"), F.col("kb")), ["repo", "kb"],
            merged, properties=self._docs_properties(),
            lineage={"merged_buckets": [list(v) for v in merged]})

    def compact(self, min_dead_fraction: float = 0.0) -> list[int]:
        """Tiered merge stage (W7): rewrite ONLY doc-slices whose tombstone
        fraction is >= ``min_dead_fraction`` (0.0 = every slice with any
        tombstone), dropping their dead docs; clean slices' files are carried
        forward untouched in the new snapshot.  Returns compacted dslices.

        Reference analogue: TieredMergePolicy(10,10) +
        ConcurrentMergeScheduler (LuceneIndexBean.java:671-686) — merge work
        is proportional to dirty segments, never the whole index.

        The docs partitions that carry deletes are merged first, whatever
        the threshold (:meth:`_merge_docs`).
        """
        self._merge_docs()
        tt = self.catalog.table("tombstones")
        if not tt.exists():
            return []
        tomb = tt.read(self.spark)
        dead_per_slice = tomb.groupBy("dslice").agg(
            F.count(F.lit(1)).alias("n_dead"))
        size_per_slice = (self._meta().groupBy("dslice")
                          .agg(F.count(F.lit(1)).alias("n_docs")))
        dirty_rows = (dead_per_slice.join(size_per_slice, "dslice")
                      .where(F.col("n_dead") >= F.col("n_docs")
                             * F.lit(float(min_dead_fraction)))
                      .select("dslice").collect())
        dirty = sorted(int(r["dslice"]) for r in dirty_rows)
        if not dirty:
            return []
        dead_ids = tomb.where(F.col("dslice").isin(dirty)).select("doc_id")

        # segments: decode ONLY the dirty slices, drop dead docs, re-block,
        # swap those partitions (clean slices never touched)
        live_flat = (flat_postings_view(self.spark, self.catalog, dslices=dirty)
                     .join(F.broadcast(dead_ids), "doc_id", "left_anti"))
        new_blocks = (self.builder.segment_blocks(live_flat)
                      .repartition(F.col("dslice"))
                      .sortWithinPartitions("field", "term", "first_doc"))
        self.catalog.table("segments").replace_partitions(
            new_blocks, ["dslice"], [(d,) for d in dirty],
            properties=self.builder.segments_properties(
                stage="segments", compacted_slices=dirty),
            lineage={"compacted": dirty})

        # norms sidecar: same partition swap
        norms_t = self.catalog.table("doc_norms")
        live_norms = (norms_t.read(self.spark)
                      .where(F.col("dslice").isin(dirty))
                      .join(F.broadcast(dead_ids), "doc_id", "left_anti"))
        norms_t.replace_partitions(
            live_norms.repartition(F.col("dslice"))
            .sortWithinPartitions("field", "doc_id"),
            ["dslice"], [(d,) for d in dirty],
            properties={"stage": "doc_norms", "compacted_slices": dirty})
        norms_snap = norms_t.snapshot()
        self.catalog.table("field_lens").commit_dirs(
            norms_snap.data_dirs, schemas=norms_snap.schemas,
            properties={"stage": "field_lens"})

        # docs_meta: drop dead rows of dirty slices only
        meta_t = self.catalog.table("docs_meta")
        live_meta = (self._meta().where(F.col("dslice").isin(dirty))
                     .join(F.broadcast(dead_ids), "doc_id", "left_anti"))
        meta_t.replace_partitions(
            live_meta, ["dslice"], [(d,) for d in dirty],
            properties={"stage": "docs_meta", "compacted_slices": dirty})

        # tombstones of the compacted slices are reclaimed (metadata-only)
        tt.drop_partitions(["dslice"], [(d,) for d in dirty],
                           properties={"compacted_slices": dirty})
        return dirty
