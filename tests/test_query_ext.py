"""Extended Lucene query surface: minimumNumberShouldMatch, FILTER clauses,
SynonymQuery, DisjunctionMaxQuery — engine (warmed driver fast path and
distributed kernel) vs the pure-Python oracle on the seeded synthetic code
corpus.

Reference semantics: Lucene BooleanQuery.setMinimumNumberShouldMatch /
BooleanClause.Occur.FILTER / SynonymQuery / DisjunctionMaxQuery (the engine
underneath the reference plugin's classic-parser surface,
LuceneIndexBean.java:385-393 builds BooleanQuery around every search).
"""

import numpy as np
import pytest

from lucene_plugin_spark.corpus import generate_rows
from lucene_plugin_spark.index.builder import IndexBuilder
from lucene_plugin_spark.oracle import OracleEngine
from lucene_plugin_spark.query.executor import SearchEngine
from lucene_plugin_spark.storage.catalog import Catalog

N_DOCS = 300


@pytest.fixture(scope="module")
def built(spark, tmp_path_factory):
    wh = str(tmp_path_factory.mktemp("wh"))
    rows = generate_rows(N_DOCS, seed=7)
    catalog = Catalog(wh)
    builder = IndexBuilder(spark, catalog, docs_per_slice=64)
    src = spark.createDataFrame(rows).select(
        "repo", "path", "commit", "lang", "content")
    builder.build(src)
    return catalog, OracleEngine.from_rows(rows)


def _engine(spark, catalog, route):
    """"kernel": a warmed engine (the driver route runs the kernels in the
    driver); "dataframe": an unwarmed one (the distributed route runs them
    in mapInPandas tasks)."""
    eng = SearchEngine(spark, catalog)
    return eng.warm() if route == "kernel" else eng


def _got(df):
    return [(r["doc_id"], r["path"], r["score"]) for r in df.collect()]


def _assert_match(got, want):
    assert [g[0] for g in got] == [w[0] for w in want]
    assert [g[1] for g in got] == [w[1] for w in want]
    assert np.allclose([g[2] for g in got], [w[2] for w in want],
                       rtol=1e-9, atol=1e-12)


@pytest.mark.parametrize("mm", [2, 3])
@pytest.mark.parametrize("route", ["kernel", "dataframe"])
def test_min_should_match(spark, built, mm, route):
    catalog, oracle = built
    eng = _engine(spark, catalog, route)
    q = "index query cache merge"
    got = _got(eng.search_min_match(None, q, mm, limit=50))
    want = oracle.search_min_match(None, q, mm, limit=50)
    assert got, "query must produce hits for the test to mean anything"
    _assert_match(got, want)
    # mm must strictly shrink (or hold) the plain-OR result set
    plain = _got(eng.search(None, q, limit=500))
    assert len(got) <= len(plain)


def test_min_should_match_exceeds_clauses(spark, built):
    catalog, _ = built
    eng = SearchEngine(spark, catalog)
    assert _got(eng.search_min_match(None, "index query", 3, limit=10)) == []


def test_min_should_match_driver_vs_kernel(spark, built):
    """Warmed driver fast path and distributed kernel agree under mm."""
    catalog, _ = built
    warm = SearchEngine(spark, catalog).warm(collect_paths=True)
    cold = SearchEngine(spark, catalog)
    cold.driver_exec_max_postings = -1  # force the distributed kernel
    q = "index query cache merge"
    _assert_match(_got(warm.search_min_match(None, q, 2, limit=50)),
                  _got(cold.search_min_match(None, q, 2, limit=50)))


@pytest.mark.parametrize("route", ["kernel", "dataframe"])
def test_filter_clause(spark, built, route):
    catalog, oracle = built
    eng = _engine(spark, catalog, route)
    got = _got(eng.search_filtered(None, "index query", "cache", limit=50))
    want = oracle.search_filtered(None, "index query", "cache", limit=50)
    assert got
    _assert_match(got, want)
    # the filter gates but never scores: every hit's score must equal the
    # unfiltered query's score for that doc
    plain = {r["doc_id"]: r["score"]
             for r in eng.search(None, "index query", limit=500).collect()}
    for d, _, s in got:
        assert abs(plain[d] - s) < 1e-9


def test_filter_clause_scoped_collection(spark, built):
    catalog, oracle = built
    eng = SearchEngine(spark, catalog)
    got = _got(eng.search_filtered("repo-01", "index query", "cache", limit=20))
    want = oracle.search_filtered("repo-01", "index query", "cache", limit=20)
    _assert_match(got, want)


def test_synonym_query(spark, built):
    catalog, oracle = built
    eng = SearchEngine(spark, catalog)
    syns = {"index": ["cache", "merge"]}
    got = _got(eng.search_synonyms(None, "index query", syns, limit=50))
    want = oracle.search_synonyms(None, "index query", syns, limit=50)
    assert got
    _assert_match(got, want)


def test_synonym_blended_df_not_sum(spark, built):
    """SynonymQuery idf uses MAX member df — a doc matching only the rare
    member must score with the hot member's (lower) idf, i.e. less than a
    plain OR would give it."""
    catalog, oracle = built
    eng = SearchEngine(spark, catalog)
    syns = {"index": ["cache"]}
    syn_hits = {d: s for d, _, s in
                ((r["doc_id"], r["path"], r["score"]) for r in
                 eng.search_synonyms(None, "index", syns, limit=500).collect())}
    or_hits = {r["doc_id"]: r["score"]
               for r in eng.search(None, "index cache", limit=500).collect()}
    assert set(syn_hits) == set(or_hits)
    # blended scoring differs from OR-sum scoring somewhere
    assert any(abs(syn_hits[d] - or_hits[d]) > 1e-9 for d in syn_hits)


@pytest.mark.parametrize("tie", [0.0, 0.3])
def test_dismax(spark, built, tie):
    catalog, oracle = built
    eng = SearchEngine(spark, catalog)
    qs = ["index query", "cache merge"]
    got = _got(eng.search_dismax(None, qs, tie=tie, limit=50))
    want = oracle.search_dismax(None, qs, tie=tie, limit=50)
    assert got
    _assert_match(got, want)


def test_dismax_tie_zero_is_pure_max(spark, built):
    catalog, _ = built
    eng = SearchEngine(spark, catalog)
    a = {r["doc_id"]: r["score"]
         for r in eng.search(None, "index", limit=500).collect()}
    b = {r["doc_id"]: r["score"]
         for r in eng.search(None, "cache", limit=500).collect()}
    dm = {r["doc_id"]: r["score"]
          for r in eng.search_dismax(None, ["index", "cache"],
                                     tie=0.0, limit=500).collect()}
    for d, s in dm.items():
        assert abs(s - max(a.get(d, 0.0), b.get(d, 0.0))) < 1e-9


def test_dismax_conjunction_disjunct(spark, built):
    """DisMax disjuncts are arbitrary queries (Lucene places no shape
    restriction): a conjunction disjunct routes through the recursive tree
    evaluator and matches the oracle."""
    catalog, oracle = built
    eng = SearchEngine(spark, catalog)
    qs = ["index AND query", "cache merge"]
    got = _got(eng.search_dismax(None, qs, tie=0.1, limit=30))
    want = oracle.search_dismax(None, qs, tie=0.1, limit=30)
    assert got
    _assert_match(got, want)
