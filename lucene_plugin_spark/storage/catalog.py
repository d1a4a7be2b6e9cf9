"""Snapshot-committed parquet tables — the Iceberg analogue for this engine.

The north rule asks for Iceberg tables with snapshot commits, snapshot-pinned
reads, per-partition lineage and checkpoint-resumable stages.  This sandbox
has no Iceberg runtime jars, so this module implements the same *semantics*
over plain parquet, shaped so every call site maps 1:1 to an Iceberg catalog
on a real cluster:

- ``Table.append(df)``        -> ``df.writeTo(t).append()``
- ``Table.overwrite(df)``     -> ``df.writeTo(t).overwritePartitions()`` / replace
- ``Table.commit(...)``       -> Iceberg snapshot commit (atomic pointer swap)
- ``Table.read(snapshot_id)`` -> ``spark.read.option("snapshot-id", ...)``
- ``Table.current_snapshot()``-> snapshot pinning (reference analogue: the NRT
  searcher version, LuceneIndexBean.java:620-637 / SearcherManager)

Layout on disk::

    <root>/<table>/
        data/snap-<n>/part-*.parquet     # files written for snapshot n
        meta/manifest-<n>.json           # file list + lineage + properties
        meta/CURRENT                     # atomic pointer: current snapshot n

A manifest lists *all* live data dirs for its snapshot (append = parent dirs +
new dir; overwrite = new dir only), plus free-form ``lineage`` (used by the
index builder to record which input partitions produced which segment files —
north-rule per-partition lineage) and ``properties`` (stage markers for
checkpoint-resume).  The CURRENT pointer is swapped with ``os.replace`` —
atomic on POSIX — so readers never observe a partial commit (the analogue of
Iceberg optimistic commit; reference analogue: ``IndexWriter.commit()`` at
LuceneIndexBean.java:490-509).

Every manifest also records ``schemas``: the Spark schema of each parquet
root it lists, as a list of ``{"schema": <json>, "roots": [<root dir
names>]}`` — one entry per distinct schema, so a manifest grows by a name,
not a schema, per appended root; names, not paths, so a replicated
warehouse keeps them.  Reads pass each root's schema to
``spark.read.schema``: Spark's footer inference is a Spark job per root,
the larger part of a cold search's fixed cost.  Roots without one
(manifests written before schemas were recorded) are still inferred.

Data files are zstd-compressed parquet, from Spark (``_write_data``) and
from the one-task mutation pass (pyarrow, ``index/task_pass.py``) alike.
A warehouse records the :data:`LAYOUT_VERSION` its writer used
(:meth:`Catalog.stamp_layout`), so a cache of built warehouses can tell a
layout older than the code from a current one.

Partition-level commits (the Iceberg ``overwritePartitions`` analogue):
``replace_partitions`` / ``drop_partitions`` commit a snapshot whose data-dir
list keeps the untouched hive partition directories of the parent and swaps
only the named partitions — so a mutation of k partitions rewrites O(k)
bytes, never O(table).  Such entries are stored as ``{"path": <partition
dir>, "base": <parquet root>}`` (``base`` preserves partition-column
recovery via Spark's ``basePath`` option); plain-string entries remain whole
parquet roots.  Partition values must hive-encode to themselves (ints and
sanitized collection names do; arbitrary strings would need Iceberg's
escaping).

Merge-on-read rows (the Iceberg v2 ``RowDelta`` analogue, and Lucene's
liveDocs for stored fields): a manifest also lists ``delete_dirs``, entries
of the same shapes as ``data_dirs`` whose rows are KEYS, and ``seqs``, the
sequence of every data and delete root it lists — the id of the snapshot
that added the root, carried over like ``schemas``.  A delete row with
sequence d hides the rows with the same values in its columns (the docs
table's ``(repo, path, kb)``) in every data root whose sequence is below d,
so one snapshot can add a key's replacement row and the delete of its old
one (:meth:`Table.row_delta`).  :meth:`Table.read` applies the deletes with
one left-anti join, only when the snapshot has any; delete roots record
their schemas, so the read stays job-free.  Partition commits keep or drop a
partition's delete entries with its data entries, and ``overwrite`` drops
them all.
"""

from __future__ import annotations

import json
import os
import re
import time
import uuid
from dataclasses import dataclass, field
from typing import Any

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession


#: version of the on-disk layout: data-file codec and manifest shape.
#: 3: manifests list delete roots and root sequences (2: zstd data files;
#: 1: Spark's default snappy).
LAYOUT_VERSION = 3


class SnapshotError(RuntimeError):
    pass


_TAG_NAME_RE = re.compile(r"^[A-Za-z0-9._-]+$")


def _check_tag_name(name: str) -> None:
    """Tag names become filesystem paths (tags/<name>.json); reject anything
    that could escape the tags directory ('/', '..', empty, control chars)."""
    if not _TAG_NAME_RE.fullmatch(name or "") or ".." in name:
        raise ValueError(f"invalid tag name {name!r}: must match "
                         "[A-Za-z0-9._-]+ without '..'")


def entry_path(e) -> str:
    """Data-dir entry -> readable path (str entries are whole parquet roots;
    dict entries are single hive partition dirs)."""
    return e if isinstance(e, str) else e["path"]


def entry_base(e) -> str:
    """Data-dir entry -> Spark ``basePath`` (partition-column recovery)."""
    return e if isinstance(e, str) else e.get("base", e["path"])


def root_name(e) -> str:
    """Data-dir entry -> the key of its parquet root in a manifest's
    ``schemas``."""
    return os.path.basename(os.path.normpath(entry_base(e)))


def _root_schemas(manifest: dict) -> dict[str, str]:
    """A manifest's ``schemas`` as root name -> JSON schema."""
    return {n: e["schema"] for e in manifest.get("schemas", [])
            for n in e["roots"]}


def data_files(entries: list) -> list[str]:
    """The parquet files under snapshot data-dir entries, found by a local
    walk (no Spark job): what the pyarrow readers of a snapshot open."""
    import glob
    return [f for e in entries for f in sorted(glob.glob(
        os.path.join(entry_path(e), "**", "*.parquet"), recursive=True))]


def _has_data_file(path: str) -> bool:
    """Whether a parquet root or partition dir holds a data file, by
    Spark's listing rule (names starting with ``_`` or ``.`` are not data);
    stops at the first one."""
    for _, dirs, files in os.walk(path):
        if any(not f.startswith(("_", ".")) for f in files):
            return True
        dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
    return False


def partition_data_dirs(data_dirs: list, col: str, value) -> list[str]:
    """Directories holding files of hive partition ``col=value`` across a
    snapshot's data-dir entries (used by task-local sidecar readers: norms,
    tombstones — the analogue of Lucene reading one segment's sidecar file)."""
    tag = f"{col}={value}"
    out = []
    for e in data_dirs:
        p = entry_path(e)
        if tag in p.split(os.sep):
            out.append(p)
        else:
            sub = os.path.join(p, tag)
            if os.path.isdir(sub):
                out.append(sub)
    return out


@dataclass
class Snapshot:
    snapshot_id: int
    data_dirs: list[str]
    lineage: dict[str, Any] = field(default_factory=dict)
    properties: dict[str, Any] = field(default_factory=dict)
    parent_id: int | None = None
    timestamp_ms: int = 0
    #: root name (:func:`root_name`) -> JSON schema of that root's files
    schemas: dict[str, str] = field(default_factory=dict)
    #: the schema of the last data root a commit added (the parent's when
    #: it added none): what a new image of the table is written in
    schema_json: str | None = None
    #: merge-on-read key deletes: entries shaped like ``data_dirs``
    delete_dirs: list = field(default_factory=list)
    #: root name -> sequence: the id of the snapshot that added the root
    seqs: dict[str, int] = field(default_factory=dict)

    def seq(self, entry) -> int:
        """The sequence of a data or delete entry's root (0 when the
        manifest predates sequences)."""
        return self.seqs.get(root_name(entry), 0)


class Table:
    """One snapshot-versioned parquet table: data roots, merge-on-read
    delete roots, and each root's sequence (module docstring)."""

    def __init__(self, root: str, name: str):
        self.root = os.path.join(root, name)
        self.name = name
        self._meta = os.path.join(self.root, "meta")
        self._data = os.path.join(self.root, "data")
        os.makedirs(self._meta, exist_ok=True)
        os.makedirs(self._data, exist_ok=True)

    # ---- snapshot bookkeeping -------------------------------------------
    def current_snapshot_id(self) -> int | None:
        cur = os.path.join(self._meta, "CURRENT")
        if not os.path.exists(cur):
            return None
        with open(cur) as f:
            return int(f.read().strip())

    def _manifest(self, sid: int) -> dict:
        with open(os.path.join(self._meta, f"manifest-{sid}.json")) as f:
            return json.load(f)

    def snapshot(self, snapshot_id: int | None = None) -> Snapshot:
        sid = self.current_snapshot_id() if snapshot_id is None else snapshot_id
        if sid is None:
            raise SnapshotError(f"table {self.name} has no snapshots")
        m = self._manifest(sid)
        return Snapshot(
            snapshot_id=m["snapshot_id"],
            data_dirs=m["data_dirs"],
            lineage=m.get("lineage", {}),
            properties=m.get("properties", {}),
            parent_id=m.get("parent_id"),
            timestamp_ms=m.get("timestamp_ms", 0),
            schemas=_root_schemas(m),
            schema_json=m.get("schema_json"),
            delete_dirs=m.get("delete_dirs", []),
            seqs=m.get("seqs", {}),
        )

    def exists(self) -> bool:
        return self.current_snapshot_id() is not None

    def history(self) -> list[int]:
        ids = []
        for f in os.listdir(self._meta):
            if f.startswith("manifest-") and f.endswith(".json"):
                ids.append(int(f[len("manifest-"):-len(".json")]))
        return sorted(ids)

    # ---- writes ----------------------------------------------------------
    def _next_id(self) -> int:
        cur = self.current_snapshot_id()
        return 1 if cur is None else cur + 1

    def new_data_dir(self) -> str:
        """A fresh parquet root for the next snapshot's files."""
        return os.path.join(self._data,
                            f"snap-{self._next_id()}-{uuid.uuid4().hex[:8]}")

    def _write_data(self, df: DataFrame, partition_by: list[str] | None
                    ) -> tuple[str, dict[str, str]]:
        """Write ``df`` as a new zstd parquet root; returns the root and its
        ``schemas`` entry."""
        d = self.new_data_dir()
        w = df.write.mode("overwrite").option("compression", "zstd")
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.parquet(d)
        return d, {os.path.basename(d): df.schema.json()}

    def _commit(self, sid: int, data_dirs: list, lineage: dict,
                properties: dict, schemas: dict[str, str] | None = None,
                delete_dirs: list = ()) -> Snapshot:
        """Write manifest ``sid`` and swap CURRENT to it.  ``schemas``: the
        schemas of the roots this commit adds; the parent's carry over for
        the roots it still lists, and so do their sequences (a root new to
        the table gets ``sid``).  ``schema_json`` (the last added data
        root's schema, else the parent's) types the read of a snapshot with
        no files."""
        parent = self.current_snapshot_id()
        pm = self._manifest(parent) if parent is not None else {}
        known = {**_root_schemas(pm), **(schemas or {})}
        parent_seqs = pm.get("seqs", {})
        data_names = {root_name(e) for e in data_dirs}
        added = [j for n, j in (schemas or {}).items() if n in data_names]
        by_schema: dict[str, list[str]] = {}
        seqs: dict[str, int] = {}
        for n in dict.fromkeys(root_name(e) for e in [*data_dirs, *delete_dirs]):
            seqs[n] = parent_seqs.get(n, sid)
            if n in known:
                by_schema.setdefault(known[n], []).append(n)
        manifest = {
            "snapshot_id": sid,
            "parent_id": parent,
            "data_dirs": data_dirs,
            "delete_dirs": list(delete_dirs),
            "seqs": seqs,
            "lineage": lineage,
            "properties": properties,
            "schema_json": added[-1] if added else pm.get("schema_json"),
            "schemas": [{"schema": j, "roots": ns}
                        for j, ns in by_schema.items()],
            "timestamp_ms": int(time.time() * 1000),
        }
        mpath = os.path.join(self._meta, f"manifest-{sid}.json")
        tmp = mpath + ".tmp"
        with open(tmp, "w") as f:
            json.dump(manifest, f, indent=1)
        os.replace(tmp, mpath)
        cur_tmp = os.path.join(self._meta, "CURRENT.tmp")
        with open(cur_tmp, "w") as f:
            f.write(str(sid))
        os.replace(cur_tmp, os.path.join(self._meta, "CURRENT"))  # atomic pointer swap
        return self.snapshot(sid)

    def _parent_entries(self, append: bool = False,
                        partition_by: list[str] | None = None,
                        replaced_values=()) -> tuple[list, list]:
        """What a new snapshot keeps of the current one's data and delete
        entries: none (an overwrite), all (``append``), or every partition
        of ``partition_by`` but ``replaced_values`` (a partition replace)."""
        if self.current_snapshot_id() is None:
            return [], []
        snap = self.snapshot()
        if partition_by:
            replaced = {tuple(str(v) for v in vals) for vals in replaced_values}
            return tuple(self._kept_entries(entries, partition_by, replaced)
                         for entries in (snap.data_dirs, snap.delete_dirs))
        if append:
            return list(snap.data_dirs), list(snap.delete_dirs)
        return [], []

    def append(self, df: DataFrame, partition_by: list[str] | None = None,
               lineage: dict | None = None, properties: dict | None = None) -> Snapshot:
        d, schemas = self._write_data(df, partition_by)
        kept, deletes = self._parent_entries(append=True)
        return self._commit(self._next_id(), kept + [d], lineage or {},
                            properties or {}, schemas, deletes)

    def overwrite(self, df: DataFrame, partition_by: list[str] | None = None,
                  lineage: dict | None = None, properties: dict | None = None) -> Snapshot:
        d, schemas = self._write_data(df, partition_by)
        return self._commit(self._next_id(), [d], lineage or {},
                            properties or {}, schemas)

    def row_delta(self, rows: DataFrame | None, deletes: DataFrame,
                  partition_by: list[str], lineage: dict | None = None,
                  properties: dict | None = None) -> Snapshot:
        """Append ``rows`` (if any) and the key rows ``deletes`` as one
        snapshot (Iceberg ``RowDelta``): the deletes hide the older rows
        with their keys — every column of ``deletes`` — and not ``rows``,
        which share their sequence.  Nothing already written is rewritten."""
        added, schemas = [], {}
        if rows is not None:
            d, schemas = self._write_data(rows, partition_by)
            added.append(d)
        dd, s = self._write_data(deletes, partition_by)
        return self.commit_dirs(added, lineage, properties, {**schemas, **s},
                                append=True, delete_dirs=[dd])

    def commit_dirs(self, data_dirs: list, lineage: dict | None = None,
                    properties: dict | None = None,
                    schemas: dict[str, str] | None = None,
                    append: bool = False,
                    partition_by: list[str] | None = None,
                    replaced_values=(), delete_dirs: list = ()) -> Snapshot:
        """Commit data dirs written elsewhere: another table's (a multi-stage
        build's stage files, field_lens over doc_norms' files) or roots that
        the one-task mutation pass wrote with pyarrow.  The snapshot keeps
        none of its parent's entries (an overwrite), all of them
        (``append``) or, given ``partition_by``, all but the
        ``replaced_values`` partitions (as :meth:`replace_partitions`), and
        adds ``delete_dirs`` as delete roots (as :meth:`row_delta`).
        ``schemas``: the schemas of those files' roots — for another table's
        data dirs, that table's :attr:`Snapshot.schemas`; roots without one
        are read with schema inference."""
        kept, deletes = self._parent_entries(append, partition_by, replaced_values)
        return self._commit(self._next_id(), kept + list(data_dirs),
                            lineage or {}, properties or {}, schemas,
                            deletes + list(delete_dirs))

    # ---- partition-level commits (Iceberg overwritePartitions analogue) ----
    def _partition_leaves(self, entry, partition_by: list[str]):
        """Yield (path, values) leaf partition dirs of one data-dir entry,
        where ``values`` is the tuple of hive partition values."""
        p, base = entry_path(entry), entry_base(entry)
        rel = os.path.relpath(p, base)
        bound = [] if rel == "." else [seg.split("=", 1) for seg in rel.split(os.sep)]
        roots = [(p, tuple(v for _, v in bound))]
        for level in range(len(bound), len(partition_by)):
            col = partition_by[level]
            nxt = []
            for d, vals in roots:
                if not os.path.isdir(d):
                    continue
                for name in sorted(os.listdir(d)):
                    if name.startswith(f"{col}="):
                        nxt.append((os.path.join(d, name),
                                    vals + (name.split("=", 1)[1],)))
            roots = nxt
        yield from roots

    def partition_dirs(self, partition_by: list[str], values,
                       deletes: bool = False) -> dict[tuple[str, ...], list]:
        """The current snapshot's leaf entries (``{"path", "base"}``) of the
        named partitions, as partition-value tuple -> entries (values absent
        from the snapshot are absent here): its data entries, or with
        ``deletes`` its delete entries."""
        want = {tuple(str(v) for v in vals) for vals in values}
        snap = self.snapshot()
        out: dict[tuple[str, ...], list] = {}
        for e in snap.delete_dirs if deletes else snap.data_dirs:
            for d, vals in self._partition_leaves(e, partition_by):
                if vals in want:
                    out.setdefault(vals, []).append(
                        {"path": d, "base": entry_base(e)})
        return out

    def partition_values(self, partition_by: list[str],
                         snapshot_id: int | None = None,
                         deletes: bool = False) -> set[tuple[str, ...]]:
        """All partition-value tuples of a snapshot's (default: the current
        one's) data entries, or with ``deletes`` its delete entries."""
        if self.current_snapshot_id() is None:
            return set()
        snap = self.snapshot(snapshot_id)
        out: set[tuple[str, ...]] = set()
        for e in snap.delete_dirs if deletes else snap.data_dirs:
            for _, vals in self._partition_leaves(e, partition_by):
                out.add(vals)
        return out

    def _kept_entries(self, entries: list, partition_by: list[str],
                      replaced: set) -> list:
        kept = []
        for e in entries:
            base = entry_base(e)
            for d, vals in self._partition_leaves(e, partition_by):
                if vals not in replaced:
                    kept.append({"path": d, "base": base})
        return kept

    def replace_partitions(self, df: DataFrame, partition_by: list[str],
                           replaced_values, lineage: dict | None = None,
                           properties: dict | None = None) -> Snapshot:
        """Overwrite ONLY the named partitions: commit the parent's untouched
        partition dirs plus newly-written files for ``df`` (which must contain
        only rows of the replaced partitions); the replaced partitions'
        delete entries go with their data.  O(touched partitions) bytes —
        the scale contract for mutations."""
        d, schemas = self._write_data(df, partition_by)
        kept, deletes = self._parent_entries(partition_by=partition_by,
                                             replaced_values=replaced_values)
        return self._commit(self._next_id(), kept + [d], lineage or {},
                            properties or {}, schemas, deletes)

    def drop_partitions(self, partition_by: list[str], dropped_values,
                        lineage: dict | None = None,
                        properties: dict | None = None) -> Snapshot:
        """Metadata-only delete of whole partitions (Iceberg partition-level
        DELETE): no data files written or read, just a manifest without
        their data and delete entries."""
        kept, deletes = self._parent_entries(partition_by=partition_by,
                                             replaced_values=dropped_values)
        return self._commit(self._next_id(), kept, lineage or {},
                            properties or {}, None, deletes)

    # ---- reads -----------------------------------------------------------
    def _read_roots(self, spark: SparkSession, snap: Snapshot, entries: list,
                    seq_col: str | None) -> DataFrame | None:
        """``entries`` read root by root and unioned by name; ``seq_col``
        names a column holding each row's root sequence.  None when no
        root holds a file."""
        from pyspark.sql.types import StructType
        from pyspark.sql.utils import AnalysisException
        out = None
        by_base: dict[str, list[str]] = {}
        for e in entries:
            by_base.setdefault(entry_base(e), []).append(entry_path(e))
        for base, paths in by_base.items():
            schema = snap.schemas.get(root_name(base))
            reader = spark.read.option("basePath", base)
            if schema is not None:
                if not any(_has_data_file(p) for p in paths):
                    continue  # what inference would fail on (next line)
                reader = reader.schema(StructType.fromJson(json.loads(schema)))
            try:
                df = reader.parquet(*paths)
            except AnalysisException:
                continue  # inference found no files, or the dir is gone
            if seq_col is not None:
                df = df.withColumn(seq_col, F.lit(snap.seq(base)))
            out = df if out is None else out.unionByName(df, allowMissingColumns=True)
        return out

    def read(self, spark: SparkSession, snapshot_id: int | None = None) -> DataFrame:
        """The snapshot as one DataFrame, launching no Spark job for roots
        whose schema the manifest records (:attr:`Snapshot.schemas`).

        Each parquet root (possibly hive-partitioned) is read with its own
        ``basePath`` and the roots are unioned by name — a multi-root read
        would trip Spark's conflicting-directory-structure check; a root's
        surviving partition dirs share one read, so plan size is O(roots).
        A root with a recorded schema is read with it: the same columns,
        column order (partition columns last) and types as schema inference
        gives, without inference's footer job.  A root without files (a
        zero-row write) is skipped; a snapshot with none at all reads as an
        empty frame typed by the manifest's ``schema_json``.  A snapshot
        with delete roots drops the rows they hide (module docstring) with
        one left-anti join on the delete columns plus the sequence rule;
        the columns are the same either way."""
        snap = self.snapshot(snapshot_id)
        from pyspark.sql.types import StructType
        mor = bool(snap.delete_dirs)
        out = self._read_roots(spark, snap, snap.data_dirs, "_seq" if mor else None)
        if out is None:
            schema_json = self._manifest(snap.snapshot_id).get("schema_json")
            if schema_json is None:
                raise SnapshotError(
                    f"snapshot {snap.snapshot_id} of {self.name} is empty and untyped")
            return spark.createDataFrame(
                [], StructType.fromJson(json.loads(schema_json)))
        if not mor:
            return out
        dels = self._read_roots(spark, snap, snap.delete_dirs, "_dseq")
        if dels is not None:
            cond = [out[c] == dels[c] for c in dels.columns if c != "_dseq"]
            out = out.join(dels, cond + [dels["_dseq"] > out["_seq"]], "left_anti")
        return out.drop("_seq")


class Catalog:
    """A directory of snapshot tables (≈ an Iceberg namespace)."""

    def __init__(self, root: str):
        self.root = root
        os.makedirs(root, exist_ok=True)

    def table(self, name: str) -> Table:
        return Table(self.root, name)

    def layout_version(self) -> int | None:
        """The layout version this warehouse was stamped with, or None."""
        try:
            with open(os.path.join(self.root, "LAYOUT")) as f:
                return int(f.read().strip())
        except (OSError, ValueError):
            return None

    def stamp_layout(self) -> None:
        """Record :data:`LAYOUT_VERSION` as this warehouse's layout."""
        path = os.path.join(self.root, "LAYOUT")
        with open(path + ".tmp", "w") as f:
            f.write(str(LAYOUT_VERSION))
        os.replace(path + ".tmp", path)

    def drop(self, name: str) -> None:
        import shutil
        p = os.path.join(self.root, name)
        if os.path.exists(p):
            shutil.rmtree(p)

    # ---- index-level snapshot tags (Iceberg table-tag analogue) ----------
    def table_names(self) -> list[str]:
        """Names of tables that have at least one committed snapshot."""
        out = []
        for d in sorted(os.listdir(self.root)):
            if d == "tags":
                continue
            if os.path.exists(os.path.join(self.root, d, "meta", "CURRENT")):
                out.append(d)
        return out

    def tag(self, name: str, pins: dict[str, int] | None = None) -> dict[str, int]:
        """Record a named cross-table snapshot: {table -> snapshot_id} for
        every committed table (or the explicit ``pins``).  Tables created
        AFTER the tag (e.g. tombstones) are simply absent — a tag-pinned
        reader treats absence as "did not exist yet".  This is the engine's
        time-travel anchor (Iceberg tags pin one table; an index is several
        tables that must travel together)."""
        _check_tag_name(name)
        if pins is None:
            pins = {t: self.table(t).current_snapshot_id()
                    for t in self.table_names()}
        tags_dir = os.path.join(self.root, "tags")
        os.makedirs(tags_dir, exist_ok=True)
        path = os.path.join(tags_dir, f"{name}.json")
        tmp = path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(pins, f, indent=1)
        os.replace(tmp, path)
        return pins

    def tag_pins(self, name: str) -> dict[str, int] | None:
        """The {table -> snapshot_id} map of a tag, or None if absent."""
        _check_tag_name(name)
        path = os.path.join(self.root, "tags", f"{name}.json")
        if not os.path.exists(path):
            return None
        with open(path) as f:
            return {k: int(v) for k, v in json.load(f).items()}
