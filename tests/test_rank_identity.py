"""Rank-identity gate (BASELINE.md (b)): engine top-k docIDs and BM25 scores
must match the pure-Python oracle on the reference query set, on BOTH places
the query route runs, over the seeded synthetic code corpus."""

import numpy as np
import pytest

from lucene_plugin_spark.corpus import QUERY_SET, generate_rows
from lucene_plugin_spark.index.builder import IndexBuilder
from lucene_plugin_spark.oracle import OracleEngine
from lucene_plugin_spark.query.executor import SearchEngine
from lucene_plugin_spark.storage.catalog import Catalog

N_DOCS = 400

#: "kernel": a warmed engine, whose driver route runs the per-slice kernels
#: in the driver and returns the top-k as pandas; "dataframe": an unwarmed
#: engine, whose distributed route runs the same kernels in mapInPandas tasks
#: and returns the hits as a lazy DataFrame
ROUTES = ["kernel", "dataframe"]


@pytest.fixture(scope="module")
def built(spark, tmp_path_factory):
    wh = str(tmp_path_factory.mktemp("wh"))
    rows = generate_rows(N_DOCS, seed=42)
    catalog = Catalog(wh)
    builder = IndexBuilder(spark, catalog, docs_per_slice=100)  # force multi-slice
    src = spark.createDataFrame(rows).select("repo", "path", "commit", "lang", "content")
    builder.build(src)
    oracle = OracleEngine.from_rows(rows)
    return catalog, oracle


@pytest.fixture(scope="module")
def engines(spark, built):
    """route -> engine; the warmed one is shared by the module."""
    catalog, _ = built
    warm = SearchEngine(spark, catalog).warm()
    yield {"kernel": lambda: warm,
           "dataframe": lambda: SearchEngine(spark, catalog)}
    warm.unwarm()


@pytest.mark.parametrize("route", ROUTES)
@pytest.mark.parametrize("name,query", QUERY_SET)
@pytest.mark.parametrize("k", [10, 255])
def test_rank_identity(spark, built, engines, route, name, query, k):
    _, oracle = built
    engine = engines[route]()
    got = [(r["doc_id"], r["path"], r["score"])
           for r in engine.search(None, query, limit=k).collect()]
    want = oracle.search(None, query, limit=k)
    assert [g[0] for g in got] == [w[0] for w in want], f"{name}: docID lists differ"
    assert [g[1] for g in got] == [w[1] for w in want]
    assert np.allclose([g[2] for g in got], [w[2] for w in want], rtol=1e-9, atol=1e-12)


@pytest.mark.parametrize("repo", ["repo-00", "repo-03"])
def test_rank_identity_collection_scoped(spark, built, engines, repo):
    _, oracle = built
    want = [(d, s) for d, _, s in oracle.search(repo, "index query cache", limit=50)]
    for route in ROUTES:
        got = [(r["doc_id"], r["score"])
               for r in engines[route]().search(repo, "index query cache",
                                                limit=50).collect()]
        assert [g[0] for g in got] == [w[0] for w in want], route
        assert np.allclose([g[1] for g in got], [w[1] for w in want], rtol=1e-9)


@pytest.mark.parametrize("query", ["*:* -query", "+*:* -query",
                                   "(*:*) -query"])
@pytest.mark.parametrize("repo", [None, "repo-03"])
def test_match_all_clause_matches_oracle(spark, built, engines, query, repo):
    """``*:*`` inside a larger query is MatchAllDocsQuery (classic parser),
    so ``*:* -query`` is every doc without 'query' at score 1.0."""
    _, oracle = built
    want = oracle.search(repo, query, limit=255)
    assert want and all(s == 1.0 for _, _, s in want)
    for route in ROUTES:
        got = [(r["doc_id"], r["path"], r["score"]) for r in
               engines[route]().search(repo, query, limit=255).collect()]
        assert [g[:2] for g in got] == [w[:2] for w in want], route
        assert np.allclose([g[2] for g in got], [w[2] for w in want])
