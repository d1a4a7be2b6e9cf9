"""Incremental mutation machinery (W2-W4 + W7 compaction): results after
upsert/delete/clear/compact must equal a from-scratch build of the effective
doc set (hit sets and per-doc scores; tie order may differ because surviving
docIDs differ)."""

import numpy as np
import pytest

from lucene_plugin_spark.corpus import generate_rows
from lucene_plugin_spark.index.builder import IndexBuilder
from lucene_plugin_spark.index.mutations import IndexMutator
from lucene_plugin_spark.oracle import OracleEngine
from lucene_plugin_spark.query.executor import SearchEngine
from lucene_plugin_spark.storage.catalog import Catalog

QUERIES = ["index", "get user", "parse AND token", '"user name"', "cache -merge"]


def _src(spark, rows):
    return spark.createDataFrame(rows).select("repo", "path", "commit", "lang", "content")


def _hits_by_path(spark, catalog, q, route="dataframe"):
    """Hits of a warmed engine ("kernel": the driver route runs the kernels
    in the driver) or an unwarmed one ("dataframe": the distributed route
    runs them in mapInPandas tasks)."""
    eng = SearchEngine(spark, catalog)
    if route == "kernel":
        eng.warm()
    try:
        return {r["path"]: round(r["score"], 9)
                for r in eng.search(None, q, limit=500).collect()}
    finally:
        eng.unwarm()


def _oracle_hits(rows, q):
    o = OracleEngine.from_rows(rows)
    return {p: round(s, 9) for _, p, s in o.search(None, q, limit=500)}


@pytest.fixture(scope="module")
def mutated(spark, tmp_path_factory):
    wh = str(tmp_path_factory.mktemp("wh-mut"))
    rows = generate_rows(150, seed=5)
    catalog = Catalog(wh)
    builder = IndexBuilder(spark, catalog, docs_per_slice=64)
    builder.build(_src(spark, rows))
    mut = IndexMutator(spark, catalog, builder)

    # upsert: modify 10 docs, add 5 new
    modified = []
    eff = {(r["repo"], r["path"]): dict(r) for r in rows}
    for i in range(0, 30, 3):
        r = dict(rows[i])
        r["content"] = r["content"] + " freshMarkerToken extra content"
        modified.append(r)
        eff[(r["repo"], r["path"])] = r
    for i in range(5):
        r = {"repo": "repo-new", "path": f"new/n{i}.py", "commit": "c0ffee42",
             "lang": "py", "content": f"brand new doc number{i} freshMarkerToken index cache"}
        modified.append(r)
        eff[(r["repo"], r["path"])] = r
    mut.upsert(_src(spark, modified))

    # delete 7 docs + clear one repo
    dels = [rows[i] for i in range(40, 61, 3)]
    for r in dels:
        mut.delete(r["repo"], r["path"])
        eff.pop((r["repo"], r["path"]), None)
    mut.clear("repo-07")
    eff = {k: v for k, v in eff.items() if k[0] != "repo-07"}
    return catalog, builder, mut, list(eff.values())


@pytest.mark.parametrize("q", QUERIES + ["freshMarkerToken", "fresh marker token"])
@pytest.mark.parametrize("route", ["kernel", "dataframe"])
def test_mutated_index_matches_fresh_semantics(spark, mutated, q, route):
    catalog, _, _, effective = mutated
    got = _hits_by_path(spark, catalog, q, route)
    want = _oracle_hits(effective, q)
    assert set(got) == set(want), q
    for p in want:
        assert np.isclose(got[p], want[p], rtol=1e-9), (q, p, got[p], want[p])


def test_collection_scoped_after_mutation(spark, mutated):
    catalog, _, _, effective = mutated
    eng = SearchEngine(spark, catalog)
    got = {r["path"]: round(r["score"], 9)
           for r in eng.search("repo-new", "freshMarkerToken", limit=50).collect()}
    o = OracleEngine.from_rows(effective)
    want = {p: round(s, 9) for _, p, s in o.search("repo-new", "freshMarkerToken", limit=50)}
    assert got == want


def test_cleared_repo_is_empty(spark, mutated):
    catalog, _, _, _ = mutated
    eng = SearchEngine(spark, catalog)
    assert eng.search("repo-07", "index", limit=10).count() == 0


def test_compaction_preserves_results(spark, mutated):
    catalog, builder, mut, effective = mutated
    before = {q: _hits_by_path(spark, catalog, q) for q in QUERIES}
    mut.compact()
    # tombstones of every compacted slice reclaimed (partition-level drop)
    assert catalog.table("tombstones").read(spark).count() == 0
    after = {q: _hits_by_path(spark, catalog, q) for q in QUERIES}
    assert before == after
    # still matches oracle
    got = _hits_by_path(spark, catalog, "freshMarkerToken")
    want = _oracle_hits(effective, "freshMarkerToken")
    assert set(got) == set(want)


def _live_files(catalog, table):
    import os
    out = set()
    for e in catalog.table(table).snapshot().data_dirs:
        p = e if isinstance(e, str) else e["path"]
        for root, _, fs in os.walk(p):
            for f in fs:
                if f.endswith(".parquet"):
                    out.add(os.path.join(root, f))
    return out


def test_mutations_rewrite_O_of_k_not_O_of_N(spark, tmp_path_factory):
    """Scale contract: an upsert of k docs must leave every untouched docs
    bucket's files byte-identical (merge-on-read appends), append —
    never rewrite — segment files, and compaction must swap only dirty
    doc-slices."""
    import pyspark.sql.functions as F
    wh = str(tmp_path_factory.mktemp("wh-okn"))
    rows = generate_rows(120, seed=9)
    catalog = Catalog(wh)
    builder = IndexBuilder(spark, catalog, docs_per_slice=32)
    builder.build(_src(spark, rows))
    mut = IndexMutator(spark, catalog, builder)

    docs_before = _live_files(catalog, "docs")
    seg_before = _live_files(catalog, "segments")

    # upsert two existing docs
    upd = [dict(rows[i], content=rows[i]["content"] + " swapped") for i in (4, 40)]
    mut.upsert(_src(spark, upd))

    affected = {(r["repo"], r["kb"]) for r in
                _src(spark, upd)
                .withColumn("kb", builder.key_bucket(F.col("repo"), F.col("path")))
                .select("repo", "kb").collect()}
    docs_after = _live_files(catalog, "docs")
    removed = docs_before - docs_after
    # every file dropped from the live set belongs to an affected bucket
    for f in removed:
        assert any(f"repo={r}/kb={b}" in f for r, b in affected), f
    # untouched buckets' files are carried forward byte-identically (paths)
    untouched = {f for f in docs_before
                 if not any(f"repo={r}/kb={b}" in f for r, b in affected)}
    assert untouched <= docs_after
    assert len(untouched) > 0  # the test corpus spans many buckets

    # segments: pure append — every pre-existing file still live
    seg_after = _live_files(catalog, "segments")
    assert seg_before <= seg_after

    # compaction: only the dirty slices (the two upserted docs' old slices)
    # are replaced; clean slices' files survive verbatim
    dirty = mut.compact()
    meta = catalog.table("docs_meta").read(spark)
    all_slices = {int(r["dslice"]) for r in meta.select("dslice").distinct().collect()}
    assert set(dirty) < all_slices
    seg_final = _live_files(catalog, "segments")
    clean_files = {f for f in seg_after
                   if not any(f"dslice={d}/" in f for d in dirty)}
    assert clean_files <= seg_final
    replaced = seg_after - seg_final
    for f in replaced:
        assert any(f"dslice={d}/" in f for d in dirty), f
    # and the tombstones of those slices are reclaimed
    assert catalog.table("tombstones").read(spark).count() == 0


# ---------------------------------------------------- facade commit = one pass
def _facade_rows(n, seed):
    """generate_rows with facade-searchable collection names (the facade
    strips '-' from collection names)."""
    return [dict(r, repo=r["repo"].replace("-", ""), fields=None)
            for r in generate_rows(n, seed=seed)]


def _built_facade(spark, wh, rows):
    """A facade opened on a warehouse that IndexBuilder built (multi-slice,
    docs_per_slice=200 like the gate's mutation index)."""
    from lucene_plugin_spark.api import LuceneFacade
    IndexBuilder(spark, Catalog(wh), docs_per_slice=200).build(
        spark.createDataFrame(rows, "repo string, path string, commit string, "
                              "lang string, content string, "
                              "fields map<string,string>"),
        fields_map_col="fields")
    fac = LuceneFacade(spark, wh)
    fac.builder.docs_per_slice = 200
    return fac


def _assert_facade_matches_oracle(fac, eff, queries, repos):
    o = OracleEngine.from_rows(eff.values())
    for repo in repos:
        for q in queries:
            got = {e.external_id: e.score for e in fac.search(repo, q, limit=500)}
            want = {p: s for _, p, s in o.search(repo, q, limit=500)}
            assert set(got) == set(want), (repo, q)
            for p in want:
                assert np.isclose(got[p], want[p], rtol=1e-9), (repo, q, p)


def test_facade_deletes_and_clears_reach_base_keys(spark, tmp_path):
    """A facade opened on an existing warehouse has committed none of its
    keys itself: its deletes and clears must still reach every live key."""
    rows = _facade_rows(240, seed=21)
    fac = _built_facade(spark, str(tmp_path), rows)
    eff = {(r["repo"], r["path"]): r for r in rows}
    victim = rows[5]
    fac.delete(victim["repo"], victim["path"])
    eff.pop((victim["repo"], victim["path"]))
    fac.clear("repo03")
    eff = {k: v for k, v in eff.items() if k[0] != "repo03"}
    words = victim["content"].split()[:3]
    _assert_facade_matches_oracle(fac, eff, QUERIES + [" ".join(words)],
                                  [victim["repo"], "repo03", "repo04"])
    assert fac.search("repo03", "index") == []


def test_facade_commit_is_one_pass(spark, tmp_path):
    """Two facade commits mixing new keys, text updates of base keys, map
    docs and deletes: the index stays CheckIndex-clean (the re-analysed
    dead deltas keep term_dict/stats exact), searches match the oracle, and
    every table gains at most one snapshot per commit."""
    from lucene_plugin_spark.storage.checker import check_index
    rows = _facade_rows(600, seed=17)
    fac = _built_facade(spark, str(tmp_path), rows)
    cat = fac.catalog
    eff = {(r["repo"], r["path"]): r for r in rows}

    def text(repo, key, content):
        fac.index_text(repo, key, content)
        eff[(repo, key)] = {"repo": repo, "path": key, "content": content}

    def mapped(repo, key, m):
        fac.index_map(repo, key, m)
        eff[(repo, key)] = {"repo": repo, "path": key, "content": "", "fields": m}

    def delete(repo, key):
        fac.delete(repo, key)
        eff.pop((repo, key), None)

    def commit():
        before = {t: len(cat.table(t).history()) for t in cat.table_names()}
        fac.commit()
        grew = {t: len(cat.table(t).history()) - before.get(t, 0)
                for t in cat.table_names()}
        assert max(grew.values()) == 1 and min(grew.values()) >= 0, grew

    text("repo01", "new/a.py", "fresh index cache marker words")
    text("repo02", "new/b.py", "get user parse token freshly")
    for r in rows[10:13]:
        text(r["repo"], r["path"], r["content"] + " updated marker")
    mapped("repo01", "m1", {"title": "user cache", "body": "parse token"})
    mapped("repo05", "m2", {"title": "merge index"})
    for r in rows[300:303] + rows[590:592]:
        delete(r["repo"], r["path"])
    delete("repo06", "never/written.py")  # a miss is a no-op
    commit()

    text("repo01", "new/a.py", "rewritten index content")
    text(rows[400]["repo"], rows[400]["path"], "marker replaces base text")
    mapped("repo01", "m1", {"title": "user name"})
    delete("repo02", "new/b.py")
    delete("repo05", "m2")
    delete(rows[11]["repo"], rows[11]["path"])
    text("repo03", "new/c.py", "marker cache index")
    commit()

    assert check_index(spark, cat)["errors"] == []
    _assert_facade_matches_oracle(
        fac, eff, ["index", "marker", "parse AND token", '"user name"'],
        ["repo01", "repo02", rows[400]["repo"]])
    _assert_facade_matches_oracle(fac, eff, ["title:user", "title:merge"],
                                  ["repo01", "repo05"])


def test_facade_adopts_persisted_docs_per_slice(spark, tmp_path):
    """A facade opened on a warehouse built with a non-default slice width
    must file its tombstones (and new docs) by the width on disk: deleted
    docs past the first slice stop matching and CheckIndex stays clean.  A
    tombstone filed under the wrong slice is a CheckIndex error."""
    from lucene_plugin_spark.api import LuceneFacade
    from lucene_plugin_spark.storage.checker import check_index
    rows = _facade_rows(200, seed=31)
    wh = str(tmp_path)
    IndexBuilder(spark, Catalog(wh), docs_per_slice=64).build(
        spark.createDataFrame(rows, "repo string, path string, commit string, "
                              "lang string, content string, "
                              "fields map<string,string>"),
        fields_map_col="fields")
    fac = LuceneFacade(spark, wh)
    assert fac.builder.docs_per_slice == 64
    victims = (fac.catalog.table("docs_meta").read(spark)
               .where("doc_id >= 64").orderBy("doc_id").limit(3).collect())
    eff = {(r["repo"], r["path"]): r for r in rows}
    for v in victims:
        fac.delete(v["repo"], v["path"])
        eff.pop((v["repo"], v["path"]))
    fac.index_text(victims[0]["repo"], "added-doc", "index parse token")
    eff[(victims[0]["repo"], "added-doc")] = {
        "repo": victims[0]["repo"], "path": "added-doc",
        "content": "index parse token"}
    _assert_facade_matches_oracle(fac, eff, QUERIES,
                                  sorted({v["repo"] for v in victims}))
    assert check_index(spark, fac.catalog)["errors"] == []
    # every later snapshot carries the width forward
    props = fac.catalog.table("segments").snapshot().properties
    assert props["docs_per_slice"] == 64
    fac.catalog.table("tombstones").append(
        spark.createDataFrame([(5, 3)], "doc_id long, dslice int"),
        partition_by=["dslice"])
    assert any("tombstone doc_id 5" in e
               for e in check_index(spark, fac.catalog)["errors"])


# ----------------------------------------- one-task pass vs the Spark pass
def _table_rows(spark, cat, name):
    """A table's rows as sorted, comparable tuples (maps as sorted items)."""
    def norm(v):
        return tuple(sorted(v.items())) if isinstance(v, dict) else v
    t = cat.table(name).read(spark)
    return sorted((tuple(norm(r[c]) for c in sorted(t.columns))
                   for r in t.collect()), key=repr)


def test_commit_routes_identical(spark, tmp_path, monkeypatch):
    """The same two batches committed through the one-task pass and through
    the Spark pass (the ceiling picks the pass) leave every table with
    identical sorted rows, a CheckIndex-clean index, and searches equal to
    the oracle on cold and warmed engines."""
    import pandas as pd

    from lucene_plugin_spark.storage.checker import check_index
    rows = _facade_rows(300, seed=23)
    rows[7] = dict(rows[7], path="src/naïve_東京.py", content="café naïve straße index")
    rows[8] = dict(rows[8], content="", fields={"title": "user cache",
                                                  "body": "parse token token"})
    eff = {(r["repo"], r["path"]): r for r in rows}

    def doc(repo, path, content, fields=None):
        return {"repo": repo, "path": path, "commit": "0" * 8, "lang": "text",
                "content": content, "fields": fields}

    batches = [
        ([doc("repo01", "new/a.py", "fresh index cache marker words"),
          doc("repo02", "new/ü東.py", "marker naïve café token"),
          doc("repo03", "new/stop.py", "the and of a"),
          doc("repo01", "m1", "", {"title": "user marker", "body": "merge index"}),
          doc(rows[7]["repo"], rows[7]["path"], "marker replaces the café"),
          doc(rows[10]["repo"], rows[10]["path"], rows[10]["content"] + " marker"),
          doc(rows[11]["repo"], rows[11]["path"], "rewritten after delete marker")],
         [(rows[11]["repo"], rows[11]["path"]), (rows[40]["repo"], rows[40]["path"]),
          (rows[8]["repo"], rows[8]["path"]), ("repo06", "never/written.py")]),
        ([doc("repo01", "new/a.py", "rewritten index content marker"),
          doc(rows[50]["repo"], rows[50]["path"], "user name marker")],
         [("repo02", "new/ü東.py"), (rows[60]["repo"], rows[60]["path"])]),
    ]
    calls = []
    real = IndexMutator._task_pass
    monkeypatch.setattr(IndexMutator, "_task_pass",
                        lambda self, *a: calls.append(1) or real(self, *a))
    cats = {}
    for route, ceiling in (("task", 1 << 30), ("spark", 0)):
        monkeypatch.setattr(IndexMutator, "task_pass_max_bytes", ceiling)
        cat = Catalog(str(tmp_path / route))
        builder = IndexBuilder(spark, cat, docs_per_slice=64)
        builder.build(spark.createDataFrame(
            rows, "repo string, path string, commit string, lang string, "
            "content string, fields map<string,string>"), fields_map_col="fields")
        mut = IndexMutator(spark, cat, builder)
        for ups, dels in batches:
            mut.upsert(pd.DataFrame(ups), deletes=pd.DataFrame(
                dels, columns=["repo", "path"]), fields_map_col="fields")
        cats[route] = cat
    assert len(calls) == len(batches)  # the task route ran every batch
    for ups, dels in batches:
        for k in dels:
            eff.pop(k, None)
        eff.update({(u["repo"], u["path"]): u for u in ups})

    task, sparkp = cats["task"], cats["spark"]
    assert task.table_names() == sparkp.table_names()
    for name in task.table_names():
        assert _table_rows(spark, task, name) == _table_rows(spark, sparkp, name), name
    o = OracleEngine.from_rows(eff.values())
    for cat in (task, sparkp):
        assert check_index(spark, cat)["errors"] == []
        for warm in (False, True):
            eng = SearchEngine(spark, cat)
            if warm:
                eng.warm()
            for repo in ("repo01", "repo02", rows[7]["repo"], rows[50]["repo"]):
                for q in ("index", "marker", "café", "title:user", "body:merge",
                          '"user name"', "parse AND token"):
                    got = {r["path"]: r["score"] for r in
                           eng.search(repo, q, limit=500).collect()}
                    want = {p: s for _, p, s in o.search(repo, q, limit=500)}
                    assert set(got) == set(want), (repo, q, warm)
                    for p in want:
                        assert np.isclose(got[p], want[p], rtol=1e-9), (repo, q, p)
            eng.unwarm()


def test_task_plan_flips_at_ceiling(spark, tmp_path):
    """The one-task pass is picked exactly while the file bytes it reads —
    the touched docs partitions' data and delete files and every file of
    docs_meta, term_dict, tombstones and stats — fit under
    ``task_pass_max_bytes``."""
    import os

    import pandas as pd

    from lucene_plugin_spark.storage.catalog import data_files
    rows = _facade_rows(120, seed=37)
    cat = Catalog(str(tmp_path))
    builder = IndexBuilder(spark, cat, docs_per_slice=64)
    builder.build(spark.createDataFrame(
        rows, "repo string, path string, commit string, lang string, "
        "content string, fields map<string,string>"), fields_map_col="fields")
    mut = IndexMutator(spark, cat, builder)
    mut.delete(rows[0]["repo"], rows[0]["path"])  # tombstones exist
    batch = mut._local_batch(pd.DataFrame([{
        "repo": rows[5]["repo"], "path": "new/x.py", "commit": "0" * 8,
        "lang": "text", "content": "index marker"}]), pd.DataFrame(
        [(rows[9]["repo"], rows[9]["path"]), (rows[0]["repo"], rows[0]["path"])],
        columns=["repo", "path"]), None)
    pairs = {(r["repo"], r["kb"]) for r in batch.select("repo", "kb").collect()}
    leaves, dels = (cat.table("docs").partition_dirs(["repo", "kb"], pairs,
                                                     deletes=d)
                    for d in (False, True))
    assert dels  # rows[0]'s partition carries its delete
    entries = [d for part in (leaves, dels) for dirs in part.values()
               for d in dirs]
    for name in ("docs_meta", "term_dict", "tombstones", "stats"):
        entries += cat.table(name).snapshot().data_dirs
    size = sum(os.path.getsize(f) for f in data_files(entries))
    mut.task_pass_max_bytes = size
    assert mut._task_plan(batch) is not None
    mut.task_pass_max_bytes = size - 1
    assert mut._task_plan(batch) is None


def _facade_with_pending(spark, path):
    """A facade over 200 committed docs with 16 writes and 4 deletes
    pending."""
    from lucene_plugin_spark.api import LuceneFacade
    rows = _facade_rows(200, seed=29)
    fac = LuceneFacade(spark, path)
    for r in rows:
        fac.index_text(r["repo"], r["path"], r["content"])
    fac.commit()
    for i in range(16):
        fac.index_text(rows[i]["repo"], f"new/{i}.py", f"marker{i} index cache")
    for r in rows[100:104]:
        fac.delete(r["repo"], r["path"])
    return fac, rows


def test_facade_commit_is_one_spark_job(spark, tmp_path):
    """A facade commit of 16 writes and 4 deletes runs the one-task pass:
    exactly one Spark job.  The first search on the engine the commit opens
    is one more (its scoring job)."""
    import uuid

    fac, rows = _facade_with_pending(spark, str(tmp_path))
    sc = spark.sparkContext

    def jobs(fn):
        group = f"commit-{uuid.uuid4().hex}"
        sc.setJobGroup(group, group)
        try:
            out = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return out, len(sc.statusTracker().getJobIdsForGroup(group))

    assert jobs(fac.commit)[1] == 1
    hits, n = jobs(lambda: fac.search(rows[3]["repo"], "marker3"))
    assert n == 1
    assert [e.external_id for e in hits] == ["new/3.py"]
    gone = rows[100]
    q = " ".join(gone["content"].split()[:3])
    assert gone["path"] not in {e.external_id for e in fac.search(gone["repo"], q)}


def test_facade_commit_appends_docs(spark, tmp_path):
    """A facade commit of 16 writes and 4 deletes rewrites no docs file:
    every docs data file live before it is live after it, and it adds
    exactly one data root and one delete root to docs."""
    from lucene_plugin_spark.storage.catalog import root_name
    fac, _ = _facade_with_pending(spark, str(tmp_path))
    docs_t = fac.catalog.table("docs")
    before, files = docs_t.snapshot(), _live_files(fac.catalog, "docs")
    fac.commit()
    after = docs_t.snapshot()
    assert after.snapshot_id == before.snapshot_id + 1
    assert files <= _live_files(fac.catalog, "docs")

    def added(attr):
        return ({root_name(e) for e in getattr(after, attr)}
                - {root_name(e) for e in getattr(before, attr)})
    assert len(added("data_dirs")) == 1
    assert len(added("delete_dirs")) == 1


@pytest.mark.parametrize("ceiling", [1 << 30, 0], ids=["task", "spark"])
def test_docs_merge_on_read(spark, tmp_path, ceiling):
    """One key updated in three commits, deleted, then re-added (and a
    delete of a missing key), through either pass: after every commit the
    docs table reads as exactly the live set and the index is
    CheckIndex-clean; a tag taken midway still reads the old rows; after
    ``compact()`` each docs partition is one data file with no deletes."""
    import pandas as pd

    from lucene_plugin_spark.storage.catalog import data_files
    from lucene_plugin_spark.storage.checker import check_index
    rows = _facade_rows(80, seed=41)
    cat = Catalog(str(tmp_path))
    builder = IndexBuilder(spark, cat, docs_per_slice=32)
    builder.build(spark.createDataFrame(
        rows, "repo string, path string, commit string, lang string, "
        "content string, fields map<string,string>"), fields_map_col="fields")
    mut = IndexMutator(spark, cat, builder)
    mut.task_pass_max_bytes = ceiling
    live = {(r["repo"], r["path"]): r["content"] for r in rows}
    repo, path = rows[3]["repo"], rows[3]["path"]
    docs_t = cat.table("docs")

    def docs(sid=None):
        return {(r["repo"], r["path"]): r["content"]
                for r in docs_t.read(spark, sid).collect()}

    def upsert(content, dels=()):
        mut.upsert(pd.DataFrame([{"repo": repo, "path": path, "commit": "0" * 8,
                                  "lang": "text", "content": content}]),
                   deletes=pd.DataFrame(list(dels), columns=["repo", "path"]))
        live[(repo, path)] = content

    def check():
        assert docs() == live
        assert check_index(spark, cat)["errors"] == []

    upsert("first rewrite marker", [("repo06", "never/written.py")])
    check()
    upsert("second rewrite marker")
    check()
    pins = cat.tag("midway")
    mid = dict(live)
    upsert("third rewrite marker")
    check()
    mut.delete_keys(pd.DataFrame([(repo, path)], columns=["repo", "path"]))
    live.pop((repo, path))
    check()
    upsert("added again marker")
    check()
    assert docs(pins["docs"]) == mid
    assert docs_t.snapshot().delete_dirs

    mut.compact()
    snap = docs_t.snapshot()
    assert snap.delete_dirs == []
    parts = docs_t.partition_values(["repo", "kb"])
    for entries in docs_t.partition_dirs(["repo", "kb"], parts).values():
        assert len(data_files(entries)) == 1
    check()
