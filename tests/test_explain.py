"""IndexSearcher.explain analogue: the per-leaf breakdown must sum to the
searched score for matching docs and report non-matches coherently."""

import numpy as np
import pytest

from lucene_plugin_spark.corpus import generate_rows
from lucene_plugin_spark.index.builder import IndexBuilder
from lucene_plugin_spark.query.executor import SearchEngine
from lucene_plugin_spark.storage.catalog import Catalog

QUERIES = ["get", "index query cache", "parse AND token", '"user name"',
           "search -commit", "index^2 query", '"get user"~2 cache',
           "[se TO st]", "getUserName"]


@pytest.fixture(scope="module")
def built(spark, tmp_path_factory):
    wh = str(tmp_path_factory.mktemp("expl"))
    rows = generate_rows(300, seed=42)
    catalog = Catalog(wh)
    IndexBuilder(spark, catalog, docs_per_slice=64).build(
        spark.createDataFrame(rows)
        .select("repo", "path", "commit", "lang", "content"))
    return SearchEngine(spark, catalog)


def test_explain_matches_search_scores(spark, built):
    eng = built
    for q in QUERIES:
        hits = eng.search(None, q, limit=5).collect()
        assert hits, q
        for h in hits:
            ex = eng.explain(None, q, h["path"])
            assert ex["matches"], (q, h["path"])
            assert ex["doc_id"] == h["doc_id"]
            assert np.isclose(ex["score"], h["score"], rtol=1e-9), q
            pos = [l for l in ex["leaves"] if l["polarity"] != "must_not"]
            assert np.isclose(sum(l["score"] for l in pos), h["score"],
                              rtol=1e-9), q


def test_explain_match_all(spark, built):
    """*:* is one more leaf: explain reports the score search gives."""
    eng = built
    for h in eng.search(None, "*:*", limit=3).collect():
        ex = eng.explain(None, "*:*", h["path"])
        assert ex["matches"] and ex["doc_id"] == h["doc_id"]
        assert ex["score"] == h["score"] == 1.0
        assert [l["kind"] for l in ex["leaves"]] == ["all"]


def test_explain_non_match_cases(spark, built):
    eng = built
    # a doc OUTSIDE the hit set of a MUST query reports matches=False
    all_paths = {r["path"] for r in eng.search(None, "get", limit=10_000).collect()}
    some_path = next(iter({f"src/f{i:06d}.py" for i in range(0, 300, 4)} - all_paths), None)
    if some_path is not None:
        ex = eng.explain(None, "+get", some_path)
        assert not ex["matches"] and ex["score"] == 0.0
    # unknown key
    ex = eng.explain(None, "get", "no/such/path")
    assert not ex["matches"] and ex["doc_id"] is None
    # must_not exclusion: a doc that matches the positive term AND the
    # excluded term must explain as matches=False with the leaf flagged
    both = eng.search(None, "search AND commit", limit=1).collect()
    if both:
        ex = eng.explain(None, "search -commit", both[0]["path"])
        assert not ex["matches"]
        neg = [l for l in ex["leaves"] if l["polarity"] == "must_not"]
        assert neg and neg[0]["matched"]
