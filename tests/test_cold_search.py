"""A cold search is one Spark job, and the schema-typed catalog reads that
make it so return exactly what schema inference returns.

A cold (never warmed) engine scores on the distributed route.  Its one job
is the ``mapInPandas`` scoring job, whose top-k collect already carries the
stored paths: table reads take their schema from the manifest (no footer
inference job) and the kernel reads paths from the slice's docs_meta
partition (no docs_meta join after it).
"""

import json
import os
import shutil
import uuid

import pytest

from lucene_plugin_spark.api import LuceneFacade
from lucene_plugin_spark.corpus import generate_rows
from lucene_plugin_spark.index.builder import IndexBuilder
from lucene_plugin_spark.index.mutations import IndexMutator
from lucene_plugin_spark.oracle import OracleEngine
from lucene_plugin_spark.query.executor import SearchEngine
from lucene_plugin_spark.storage.catalog import Catalog, root_name


def _src(spark, rows):
    return spark.createDataFrame(rows).select(
        "repo", "path", "commit", "lang", "content")


def _jobs(spark, fn):
    """(result of ``fn()``, number of Spark jobs it launched)."""
    sc = spark.sparkContext
    group = f"count-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_cold_search_is_one_spark_job(spark, tmp_path):
    rows = generate_rows(120, seed=41)
    fac = LuceneFacade(spark, str(tmp_path / "fac"))
    for r in rows:
        fac.index_text(r["repo"], r["path"], r["content"])
    fac.search("repo-01", "index")          # commits; the warm-up search
    hits, n = _jobs(spark, lambda: fac.search("repo-01", "query cache",
                                              limit=255))
    assert n == 1
    want = OracleEngine.from_rows(rows).search("repo-01", "query cache",
                                               limit=255)
    assert [(e.external_id, round(e.score, 9)) for e in hits] == \
        [(p, round(s, 9)) for _, p, s in want]

    catalog = Catalog(str(tmp_path / "built"))
    IndexBuilder(spark, catalog, docs_per_slice=32).build(_src(spark, rows))
    eng = SearchEngine(spark, catalog)
    eng.search("repo-01", "index").collect()
    got, n = _jobs(spark, lambda: eng.search("repo-01", '"user name" cache',
                                             limit=255).collect())
    assert n == 1
    assert got
    _, n = _jobs(spark, lambda: catalog.table("segments").read(spark))
    assert n == 0


def _untyped_copy(catalog: Catalog, dst: str) -> Catalog:
    """The catalog's manifests without their recorded ``schemas`` (the data
    dirs stay where they are): every read of the copy infers."""
    for name in catalog.table_names():
        meta = os.path.join(catalog.root, name, "meta")
        out = os.path.join(dst, name, "meta")
        shutil.copytree(meta, out)
        for f in os.listdir(out):
            if f.startswith("manifest-"):
                p = os.path.join(out, f)
                with open(p) as fh:
                    m = json.load(fh)
                m.pop("schemas", None)
                with open(p, "w") as fh:
                    json.dump(m, fh)
    return Catalog(dst)


def _same_read(spark, typed, inferred, name, sid):
    a, b = typed.table(name).read(spark, sid), inferred.table(name).read(spark, sid)
    assert a.schema == b.schema, (name, sid)     # column order and types
    assert sorted(a.collect(), key=repr) == sorted(b.collect(), key=repr), \
        (name, sid)


@pytest.fixture(scope="module")
def every_commit(spark, tmp_path_factory):
    """A warehouse whose tables hold every kind of snapshot: overwrites,
    appended roots (an upsert adds docs_meta rows with gen > 0), partition
    replaces (compaction), partition drops (clear, compaction), a zero-row
    snapshot, plus a tag taken before the mutations."""
    wh = str(tmp_path_factory.mktemp("wh-typed"))
    rows = generate_rows(120, seed=43)
    catalog = Catalog(wh)
    builder = IndexBuilder(spark, catalog, docs_per_slice=32)
    builder.build(_src(spark, rows))
    catalog.tag("built")
    mut = IndexMutator(spark, catalog, builder)
    mut.upsert(_src(spark, [dict(rows[0], content="index query " + rows[0]["content"]),
                            dict(rows[1], path="new/added.py")]))
    mut.delete(rows[2]["repo"], rows[2]["path"])
    mut.clear(rows[5]["repo"])
    assert mut.compact()
    catalog.table("empty").overwrite(
        spark.createDataFrame([], "doc_id long, dslice int, path string"),
        partition_by=["dslice"])
    return catalog


def test_typed_reads_equal_inferred_reads(spark, every_commit, tmp_path):
    catalog = every_commit
    inferred = _untyped_copy(catalog, str(tmp_path / "untyped"))
    for name in catalog.table_names():
        t = catalog.table(name)
        for sid in t.history():
            snap = t.snapshot(sid)
            # field_lens (committed over doc_norms' files) and docs' delete
            # roots included: every root of every snapshot is read typed
            assert {root_name(e) for e in snap.data_dirs + snap.delete_dirs} \
                == set(snap.schemas), (name, sid)
            _same_read(spark, catalog, inferred, name, sid)
    def snaps(name):
        t = catalog.table(name)
        return [t.snapshot(s) for s in t.history()]
    # the snapshot kinds above all took part
    assert any("compacted_slices" in s.properties for s in snaps("docs_meta"))
    assert any("compacted_slices" in s.properties for s in snaps("tombstones"))
    assert any("cleared_repo" in s.lineage for s in snaps("docs"))
    assert catalog.table("docs_meta").read(spark).where("gen > 0").count()
    assert catalog.table("empty").read(spark).count() == 0
    # a warmed engine persists its table reads: a later typed read of the
    # same table must still find its files, not the cached plan's none
    cached = catalog.table("term_dict").read(spark).persist()
    try:
        assert catalog.table("term_dict").read(spark).count() == \
            cached.count() > 0
    finally:
        cached.unpersist()


def test_tag_pinned_read_uses_its_own_schema(spark, every_commit):
    """A tag-pinned read is typed by the pinned manifest, not the current
    one: field_lens and doc_norms at the tag list only the build's roots."""
    catalog = every_commit
    pins = catalog.tag_pins("built")
    for name in ("docs_meta", "doc_norms", "field_lens", "segments"):
        t = catalog.table(name)
        pinned = t.snapshot(pins[name])
        assert set(pinned.schemas) == {root_name(e) for e in pinned.data_dirs}
        assert set(pinned.schemas) != set(t.snapshot().schemas)
        _, n = _jobs(spark, lambda: t.read(spark, pins[name]))
        assert n == 0
    eng = SearchEngine.at_tag(spark, catalog, "built")
    got = [(r["path"], round(r["score"], 9))
           for r in eng.search(None, "index", limit=50).collect()]
    rows = generate_rows(120, seed=43)
    want = OracleEngine.from_rows(rows).search(None, "index", limit=50)
    assert got == [(p, round(s, 9)) for _, p, s in want]


def test_stale_entry_cache_is_rebuilt(tmp_path):
    """A cached gate warehouse stamped with another layout version (or not
    stamped: an unfinished build) is emptied and reported not ready; one
    stamped with the current version is reused as it is."""
    import __spark_entry__ as E
    from lucene_plugin_spark.storage.catalog import LAYOUT_VERSION

    prefix, sf = str(tmp_path), "/data/sf0.01"
    catalog, ready = E._cached_warehouse(prefix, sf)
    assert not ready
    marker = os.path.join(catalog.root, "built")
    open(marker, "w").close()
    with open(os.path.join(catalog.root, "LAYOUT"), "w") as f:
        f.write(str(LAYOUT_VERSION - 1))
    catalog, ready = E._cached_warehouse(prefix, sf)
    assert not ready and not os.path.exists(marker)
    open(marker, "w").close()
    catalog.stamp_layout()
    assert catalog.layout_version() == LAYOUT_VERSION
    catalog, ready = E._cached_warehouse(prefix, sf)
    assert ready and os.path.exists(marker)
