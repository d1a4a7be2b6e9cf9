"""lucene-replicator analogue (storage/replicator.py): replica search
identity, incremental sync after mutations, idempotence, and the atomic
CURRENT flip ordering.
"""

import os

import numpy as np
import pytest

from lucene_plugin_spark.corpus import generate_rows
from lucene_plugin_spark.index.builder import IndexBuilder
from lucene_plugin_spark.index.mutations import IndexMutator
from lucene_plugin_spark.query.executor import SearchEngine
from lucene_plugin_spark.storage.catalog import Catalog, entry_path
from lucene_plugin_spark.storage.replicator import replicate

N_DOCS = 120


def _src(spark, rows):
    return spark.createDataFrame(rows).select(
        "repo", "path", "commit", "lang", "content")


def _got(eng, q, k=50):
    return [(r["doc_id"], r["path"], round(r["score"], 9))
            for r in eng.search(None, q, limit=k).collect()]


def test_replicate_then_search_identical(spark, tmp_path):
    src_wh, dst_wh = str(tmp_path / "src"), str(tmp_path / "dst")
    rows = generate_rows(N_DOCS, seed=13)
    catalog = Catalog(src_wh)
    builder = IndexBuilder(spark, catalog, docs_per_slice=48)
    builder.build(_src(spark, rows))
    stats = replicate(src_wh, dst_wh)
    assert stats["copied"] > 0 and stats["skipped"] == 0
    assert stats["tables"] >= 5           # segments/docs_meta/norms/docs/...
    src_eng = SearchEngine(spark, catalog)
    dst_eng = SearchEngine(spark, Catalog(dst_wh))
    for q in ["index", "index AND query", '"get user"', "-merge index"]:
        assert _got(dst_eng, q) == _got(src_eng, q), q
    # idempotent: a second sync copies nothing
    again = replicate(src_wh, dst_wh)
    assert again["copied"] == 0 and again["skipped"] == stats["copied"]

    # incremental after a mutation wave: only the delta ships
    mut = IndexMutator(spark, catalog, builder)
    mut.upsert(_src(spark, [dict(rows[0], content="zyx fresh replica"),
                            dict(rows[1], content="zyx zyx")]))
    assert mut.delete(rows[2]["repo"], rows[2]["path"])
    inc = replicate(src_wh, dst_wh)
    assert 0 < inc["copied"] < stats["copied"]
    dst_eng2 = SearchEngine(spark, Catalog(dst_wh))
    src_eng2 = SearchEngine(spark, catalog)
    assert _got(dst_eng2, "zyx") == _got(src_eng2, "zyx")
    assert len(_got(dst_eng2, "zyx")) == 2
    for q in ["index", "index AND query"]:
        assert _got(dst_eng2, q) == _got(src_eng2, q), q


def test_manifest_paths_rewritten(spark, tmp_path):
    src_wh, dst_wh = str(tmp_path / "src"), str(tmp_path / "dst")
    rows = generate_rows(40, seed=3)
    catalog = Catalog(src_wh)
    IndexBuilder(spark, catalog, docs_per_slice=32).build(_src(spark, rows))
    replicate(src_wh, dst_wh)
    dst_cat = Catalog(dst_wh)
    for t in dst_cat.table_names():
        tbl = dst_cat.table(t)
        if not tbl.exists():
            continue
        for d in tbl.snapshot().data_dirs:
            p = entry_path(d)
            assert p.startswith(os.path.abspath(dst_wh)), (t, d)
            assert os.path.isdir(p), (t, d)


def test_replicate_rejects_self(tmp_path):
    with pytest.raises(ValueError):
        replicate(str(tmp_path), str(tmp_path))


def test_in_place_rewrite_detected_by_mtime(tmp_path):
    """A fixed-name file rewritten in place with UNCHANGED size must still
    re-replicate (identity = path+size+mtime, not path+size)."""
    import time

    src_wh, dst_wh = str(tmp_path / "s"), str(tmp_path / "d")
    os.makedirs(os.path.join(src_wh, "t"))
    f = os.path.join(src_wh, "t", "fixed.bin")
    with open(f, "w") as fh:
        fh.write("AAAA")
    replicate(src_wh, dst_wh)
    dstf = os.path.join(dst_wh, "t", "fixed.bin")
    assert open(dstf).read() == "AAAA"
    # idempotent second run copies nothing
    assert replicate(src_wh, dst_wh)["copied"] == 0
    # rewrite in place, same size, newer mtime
    time.sleep(0.02)
    with open(f, "w") as fh:
        fh.write("BBBB")
    os.utime(f, None)
    stats = replicate(src_wh, dst_wh)
    assert stats["copied"] == 1
    assert open(dstf).read() == "BBBB"
    assert replicate(src_wh, dst_wh)["copied"] == 0


def test_coarse_destination_mtimes_skip_unchanged_files(tmp_path, monkeypatch):
    """A destination that truncates mtimes (FAT keeps even seconds) stamps
    every copy slightly BELOW its source; within the filesystem's measured
    modify window an unchanged file must still be skipped, not re-copied on
    every run — while a source rewritten after the copy still re-copies."""
    from lucene_plugin_spark.storage import replicator

    src_wh, dst_wh = str(tmp_path / "s"), str(tmp_path / "d")
    os.makedirs(os.path.join(src_wh, "t"))
    f = os.path.join(src_wh, "t", "part.bin")
    with open(f, "w") as fh:
        fh.write("AAAA")
    t_src = 1_700_000_001 * 10**9 + 750_000_000      # odd second + fraction
    os.utime(f, ns=(t_src, t_src))
    assert replicate(src_wh, dst_wh)["copied"] == 1
    # what a 2 s-granularity filesystem keeps of the copied mtime
    dstf = os.path.join(dst_wh, "t", "part.bin")
    t_fat = (t_src // (2 * 10**9)) * 2 * 10**9
    os.utime(dstf, ns=(t_fat, t_fat))
    monkeypatch.setattr(replicator, "_modify_window_ns",
                        lambda root: 2 * 10**9 - 1)
    assert replicate(src_wh, dst_wh)["copied"] == 0
    # a rewrite well after the copy is still seen
    t_new = t_src + 5 * 10**9
    os.utime(f, ns=(t_new, t_new))
    assert replicate(src_wh, dst_wh)["copied"] == 1


def test_modify_window_measured_on_destination(tmp_path):
    """The probe measures the destination's timestamp truncation: below
    one FAT step on any filesystem, and it leaves no file behind."""
    from lucene_plugin_spark.storage.replicator import _modify_window_ns
    assert 0 <= _modify_window_ns(str(tmp_path)) < 2 * 10**9
    assert os.listdir(tmp_path) == []
