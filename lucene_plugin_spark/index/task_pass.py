"""The one-task commit pass: a small local batch's mutation pass
(``index/mutations.py``) run as ONE ``mapInArrow`` task.

A facade commit of a few dozen keys does O(batch) work, but as a Spark pass
it pays tens of small jobs, each with its shuffles and Python-worker
hops.  Here the same pass reads the pinned snapshots' files with pyarrow,
runs the build's fused segment kernel and writes each new table image as
zstd parquet in the table's recorded Spark schema — all inside one task, in
an executor's Python worker, so the driver's memory does not grow with the
batch's working set.  The driver (``IndexMutator._task_pass``) commits the
images the task reports, one snapshot per table.

The kernel takes the batch rows — (repo, path, commit, lang, content,
fields, up, content_sha256, kb), ``up`` false for a delete key, ``kb`` and
``content_sha256`` from the same Spark expressions the Spark pass uses — and
a plan from the driver: the pinned snapshots' data-dir entries, the
recorded schemas, the slice width, analyzer and index sort, and a fresh
root per table.  It then

1. resolves the batch keys against docs_meta minus tombstones: the live
   docs of the batch keys are the victims;
2. writes docs merge-on-read: the upserted rows as a new root and every
   batch key that is upserted or has a victim as a delete root, one file
   each per touched (repo, kb) partition — no stored row is rewritten.  The
   victims' stored rows are read from their partitions' data files one file
   at a time, filtered to the victims' paths, and each victim's live row is
   picked by the sequence rule (``storage/catalog.py``);
3. gives new docs dense IDs from the next slice boundary above the largest
   docID, in (index_sort…, repo, path) order, with ``gen = max_gen + 1``;
4. runs ``fused.make_fused_segment_kernel`` over the new docs (+1: their
   segment and norms rows) and over the victims' stored docs rows (−1);
5. folds both signs into the term_dict and stats deltas and writes both
   tables whole;
6. yields one :data:`RESULT_DDL` row per table image it wrote.
"""

from __future__ import annotations

import json
import os
import uuid
from typing import Iterator

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as pads
import pyarrow.parquet as pq

from lucene_plugin_spark.index import fused
from lucene_plugin_spark.storage.catalog import data_files

#: one row per table image: the new root, its Spark schema, and for docs
#: the delete root; ``n_rows`` counts tombstones (victims) and docs and
#: docs_meta rows (upserted docs)
RESULT_DDL = "tbl string, root string, schema string, deletes string, n_rows long"

#: the schema of the docs table's delete roots: the keys they delete
DOCS_DELETES_SCHEMA = json.dumps({"type": "struct", "fields": [
    {"name": "repo", "type": "string", "nullable": True, "metadata": {}},
    {"name": "path", "type": "string", "nullable": True, "metadata": {}},
    {"name": "kb", "type": "integer", "nullable": True, "metadata": {}}]})

#: the tombstones table's schema, for the first pass that deletes anything
TOMBSTONES_SCHEMA = json.dumps({"type": "struct", "fields": [
    {"name": "doc_id", "type": "long", "nullable": True, "metadata": {}},
    {"name": "dslice", "type": "integer", "nullable": True, "metadata": {}}]})


def _file_schema(schema_json: str, partition_by=()) -> pa.Schema:
    """The Arrow schema of a table's data files: its Spark schema minus the
    hive partition columns."""
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StructType
    st = StructType.fromJson(json.loads(schema_json))
    return to_arrow_schema(StructType(
        [f for f in st.fields if f.name not in partition_by]))


def _read(entries: list, columns: list[str] | None = None) -> pa.Table | None:
    files = data_files(entries)
    if not files:
        return None
    return pads.dataset(files, format="parquet").to_table(columns=columns)


def _live_rows(data: list, deletes: list, paths: list[str]) -> pa.Table | None:
    """The live stored (path, content, fields) rows of ``paths`` in one docs
    partition, from its data and delete dirs as (dir, sequence) pairs: each
    file is read on its own, filtered to ``paths``, and a row is dropped
    when a delete of its path has a higher sequence than the row's root."""
    want = pc.field("path").isin(pa.array(paths, pa.string()))
    hidden: dict[str, int] = {}
    for d, seq in deletes:
        for f in data_files([d]):
            for p in pads.dataset(f, format="parquet").to_table(
                    columns=["path"], filter=want)["path"].to_pylist():
                hidden[p] = max(hidden.get(p, seq), seq)
    out = []
    for d, seq in data:
        for f in data_files([d]):
            t = pads.dataset(f, format="parquet").to_table(
                columns=["path", "content", "fields"], filter=want)
            if t.num_rows:
                out.append(t.filter(pa.array(
                    [hidden.get(p, seq) <= seq for p in t["path"].to_pylist()])))
    return pa.concat_tables(out) if out else None


def _write(tbl: pa.Table, schema: pa.Schema, root: str, part: str = "") -> None:
    d = os.path.join(root, part)
    os.makedirs(d, exist_ok=True)
    pq.write_table(tbl.select(schema.names).cast(schema),
                   os.path.join(d, f"part-00000-{uuid.uuid4().hex}-c000.zstd.parquet"),
                   compression="zstd", compression_level=3)


def _write_slices(tbl: pa.Table, schema_json: str, root: str) -> None:
    """Write ``tbl`` partitioned by ``dslice``, one file per slice."""
    schema = _file_schema(schema_json, ("dslice",))
    os.makedirs(root, exist_ok=True)
    ds = tbl.column("dslice")
    for v in np.unique(ds.to_numpy()):
        _write(tbl.filter(pc.equal(ds, v)), schema, root, f"dslice={int(v)}")


def _segments(docs: pa.Table, plan: dict) -> pa.Table | None:
    """The fused kernel's segment rows for (dslice, doc_id, content,
    fields) rows."""
    kernel = fused.make_fused_segment_kernel(
        plan["docs_per_slice"], plan["block_size"], plan["analyzer"])
    out = list(kernel(iter(docs.to_batches())))
    return pa.Table.from_batches(out) if out else None


def _norms(seg: pa.Table | None) -> pa.Table | None:
    """(dslice, field, doc_id, dl) rows decoded from segment norms rows."""
    if seg is None:
        return None
    rows = seg.filter(pc.equal(seg["term"], fused.NORMS_TERM))
    out = list(fused.decode_norms_kernel(iter(rows.to_batches())))
    return pa.Table.from_batches(out) if out else None


def _td_delta(seg: pa.Table | None, sign: int) -> list[pa.Table]:
    """Signed (field, term, d_df, d_cf) rows of segment block rows."""
    if seg is None:
        return []
    b = seg.filter(pc.not_equal(seg["term"], fused.NORMS_TERM))
    return [pa.table({"field": b["field"], "term": b["term"],
                      "d_df": pc.multiply(b["doc_count"].cast(pa.int64()), sign),
                      "d_cf": pc.multiply(b["tf_sum"], sign)})]


def _st_delta(norms: pa.Table | None, sign: int) -> list[pa.Table]:
    """Signed (field, d_n, d_sum) rows of decoded norms rows."""
    if norms is None:
        return []
    return [pa.table({"field": norms["field"],
                      "d_n": pa.array(np.full(norms.num_rows, sign, np.int64)),
                      "d_sum": pc.multiply(norms["dl"], sign)})]


def _fold(base: pa.Table | None, delta: list[pa.Table], keys: list[str],
          sums: dict[str, str]) -> pa.Table:
    """``base`` plus the summed signed ``delta`` rows per key: a full outer
    join where a missing side counts 0 (``sums``: base column -> delta
    column)."""
    d = (pa.concat_tables(delta).group_by(keys)
         .aggregate([(c, "sum") for c in sums.values()])
         if delta else None)
    if base is None:
        base = pa.table({**{k: pa.array([], pa.string()) for k in keys},
                         **{c: pa.array([], pa.int64()) for c in sums}})
    if d is None:
        return base.select(keys + list(sums))
    j = base.select(keys + list(sums)).join(d, keys, join_type="full outer")
    return pa.table({**{k: j[k] for k in keys},
                     **{c: pc.add(pc.fill_null(j[c], 0),
                                  pc.fill_null(j[f"{dc}_sum"], 0))
                        for c, dc in sums.items()}})


def make_commit_kernel(plan: dict):
    """mapInArrow generator for ONE task holding the whole batch (see the
    module docstring): batch rows in, :data:`RESULT_DDL` rows out."""

    def kernel(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        got = [b for b in batches if b.num_rows]
        if not got:
            return
        rows = _run_pass(pa.Table.from_batches(got).combine_chunks(), plan)
        if rows:
            yield pa.RecordBatch.from_pylist(rows, schema=pa.schema([
                ("tbl", pa.string()), ("root", pa.string()),
                ("schema", pa.string()), ("deletes", pa.string()),
                ("n_rows", pa.int64())]))

    return kernel


def _run_pass(batch: pa.Table, plan: dict) -> list[dict]:
    dps = plan["docs_per_slice"]
    repos, paths = batch["repo"].to_pylist(), batch["path"].to_pylist()
    kb_of = dict(zip(zip(repos, paths), batch["kb"].to_pylist()))

    # 1. resolve: live docs_meta rows of the batch keys
    meta = _read(plan["docs_meta"]["dirs"], ["repo", "path", "doc_id", "gen"])
    max_doc = max_gen = None
    victims: dict[int, tuple[str, str]] = {}
    if meta is not None and meta.num_rows:
        max_doc = pc.max(meta["doc_id"]).as_py()
        max_gen = pc.max(meta["gen"]).as_py()
        hit = meta.filter(pc.is_in(meta["path"], pa.array(sorted(set(paths)),
                                                           pa.string())))
        tomb = _read(plan["tombstones"]["dirs"], ["doc_id"])
        dead = set() if tomb is None else set(tomb["doc_id"].to_pylist())
        for r, p, d in zip(hit["repo"].to_pylist(), hit["path"].to_pylist(),
                           hit["doc_id"].to_pylist()):
            if (r, p) in kb_of and d not in dead:
                victims[d] = (r, p)
    ups = batch.filter(pc.fill_null(batch["up"], False))
    if not ups.num_rows and not victims:
        return []
    up_keys = set(zip(ups["repo"].to_pylist(), ups["path"].to_pylist()))
    victim_of = {k: d for d, k in victims.items()}
    gone = up_keys | set(victim_of)
    by_pair: dict[tuple[str, int], list[str]] = {}
    for r, p in sorted(gone):
        by_pair.setdefault((r, kb_of[(r, p)]), []).append(p)
    out = []

    def report(tbl, root, schema, deletes=None, n=0):
        if tbl != "docs" or n:
            os.makedirs(root, exist_ok=True)
        out.append({"tbl": tbl, "root": root, "schema": schema,
                    "deletes": deletes, "n_rows": n})

    # 2. docs, merge-on-read: append the upserted rows, delete the gone
    # keys; the victims' live stored rows leave for the dead delta
    dplan = plan["docs"]
    dschema = _file_schema(dplan["schema"], ("repo", "kb"))
    kschema = _file_schema(DOCS_DELETES_SCHEMA, ("repo", "kb"))
    leaves = {(r, int(kb)): (data, dels) for r, kb, data, dels in dplan["leaves"]}
    dead_parts = []
    for (repo, kb), keys in by_pair.items():
        part = f"repo={repo}/kb={kb}"
        mine = ups.filter(pc.and_(pc.equal(ups["repo"], repo),
                                  pc.equal(ups["kb"], kb)))
        if mine.num_rows:
            _write(mine, dschema, dplan["root"], part)
        _write(pa.table({"path": pa.array(keys, pa.string())}), kschema,
               dplan["deletes"], part)
        dead = [p for p in keys if (repo, p) in victim_of]
        if dead:
            d = _live_rows(*leaves.get((repo, kb), ([], [])), dead)
            if d is not None and d.num_rows:
                dead_parts.append(pa.table({
                    "dslice": pa.array(np.zeros(d.num_rows, np.int32)),
                    "doc_id": pa.array([victim_of[(repo, p)] for p in
                                        d["path"].to_pylist()], pa.int64()),
                    "content": d["content"], "fields": d["fields"]}))
    report("docs", dplan["root"], dplan["schema"], dplan["deletes"], ups.num_rows)

    # 3-4. new docs: docIDs, docs_meta, segments and norms (+1)
    td_delta, st_delta = [], []
    if ups.num_rows:
        sort_cols = list(plan["index_sort"] or []) + ["repo", "path"]
        ups = ups.take(pc.sort_indices(
            ups, sort_keys=[(c, "ascending") for c in sort_cols],
            null_placement="at_start"))
        base = (max_doc // dps + 1) * dps if max_doc is not None else 0
        doc_id = base + np.arange(ups.num_rows, dtype=np.int64)
        dslice = pa.array((doc_id // dps).astype(np.int32))
        new = (ups.append_column("doc_id", pa.array(doc_id))
               .append_column("dslice", dslice)
               .append_column("gen", pa.array(
                   np.full(ups.num_rows, (max_gen or 0) + 1, np.int32))))
        mplan = plan["docs_meta"]
        _write_slices(new, mplan["schema"], mplan["root"])
        report("docs_meta", mplan["root"], mplan["schema"], n=ups.num_rows)
        seg = _segments(new.select(["dslice", "doc_id", "content", "fields"]), plan)
        splan, nplan = plan["segments"], plan["doc_norms"]
        norms = _norms(seg)
        if seg is not None:
            _write_slices(seg, splan["schema"], splan["root"])
            _write_slices(norms.take(pc.sort_indices(norms, sort_keys=[
                ("dslice", "ascending"), ("field", "ascending"),
                ("doc_id", "ascending")])), nplan["schema"], nplan["root"])
        report("segments", splan["root"], splan["schema"])
        report("doc_norms", nplan["root"], nplan["schema"])
        td_delta += _td_delta(seg, 1)
        st_delta += _st_delta(norms, 1)

    # 4. the victims' stored rows, re-analysed (−1); tombstones
    if victims:
        dead_seg = _segments(pa.concat_tables(dead_parts), plan) if dead_parts else None
        td_delta += _td_delta(dead_seg, -1)
        st_delta += _st_delta(_norms(dead_seg), -1)
        ids = np.array(sorted(victims), np.int64)
        tplan = plan["tombstones"]
        _write_slices(pa.table({"doc_id": ids,
                                "dslice": (ids // dps).astype(np.int32)}),
                      tplan["schema"], tplan["root"])
        report("tombstones", tplan["root"], tplan["schema"], n=len(ids))

    # 5. term_dict and stats: the old image plus both signs' deltas
    tdplan, stplan = plan["term_dict"], plan["stats"]
    td = _fold(_read(tdplan["dirs"], ["field", "term", "df", "cf"]), td_delta,
               ["field", "term"], {"df": "d_df", "cf": "d_cf"})
    td = td.filter(pc.greater(td["df"], 0))
    _write(td, _file_schema(tdplan["schema"]), tdplan["root"])
    report("term_dict", tdplan["root"], tdplan["schema"])
    st = _fold(_read(stplan["dirs"], ["field", "n_docs", "sum_dl"]), st_delta,
               ["field"], {"n_docs": "d_n", "sum_dl": "d_sum"})
    st = st.filter(pc.greater(st["n_docs"], 0))
    st = st.append_column("avgdl", pc.divide(st["sum_dl"].cast(pa.float64()),
                                             st["n_docs"].cast(pa.float64())))
    _write(st, _file_schema(stplan["schema"]), stplan["root"])
    report("stats", stplan["root"], stplan["schema"])
    return out
