"""Batched multi-query execution (search_many) and the warmed engine path
must be rank/score-identical to per-query search() — same kernels, one job.
"""

import pytest

from lucene_plugin_spark.corpus import corpus_df
from lucene_plugin_spark.index.builder import IndexBuilder
from lucene_plugin_spark.query.executor import SearchEngine
from lucene_plugin_spark.storage.catalog import Catalog

QUERIES = [
    ("q0", None, "get"),
    ("q1", None, "user name"),
    ("q2", None, "index query cache"),
    ("q3", None, "parse AND token"),
    ("q4", None, '"get user"'),
    ("q5", None, "segment -merge"),
    ("q6", None, "getUserName"),
    ("q7", None, "[se TO st]"),
    ("q8", "repo-01", "query table"),
    ("q9", "no_such_repo", "query"),
    ("q10", None, "se*ent"),
    ("q11", None, "segment~1"),
    ("q12", None, "index^2 query"),
    # mixed phrase+term in ONE query: with the positions-nulling scan the
    # phrase leaf must still see its streams while 'cache' rows ship null
    ("q13", None, '"user name"^3 cache'),
    ("q14", None, '"get user"~2 index'),
]


@pytest.fixture(scope="module")
def engine(spark, tmp_path_factory):
    wh = tmp_path_factory.mktemp("batchq")
    catalog = Catalog(str(wh))
    docs = corpus_df(spark, 600)
    IndexBuilder(spark, catalog, docs_per_slice=97).build(docs)
    return SearchEngine(spark, catalog)


def _rows(df):
    return [(r["query_id"], r["doc_id"], round(r["score"], 9))
            for r in df.collect()]


def test_search_many_matches_per_query(spark, engine):
    k = 12
    batched = _rows(engine.search_many(QUERIES, limit=k))
    single = []
    for qid, repo, q in QUERIES:
        for r in engine.search(repo, q, limit=k).collect():
            single.append((qid, r["doc_id"], round(r["score"], 9)))
    assert sorted(batched) == sorted(single)
    assert any(q == "q8" for q, _, _ in batched)      # collection-scoped query hit
    assert not any(q == "q9" for q, _, _ in batched)  # unknown repo -> no hits


def test_warm_engine_identical_and_cached(spark, engine):
    k = 10
    cold = _rows(engine.search_many(QUERIES[:6], limit=k))
    engine.warm()
    try:
        warm = _rows(engine.search_many(QUERIES[:6], limit=k))
        assert sorted(cold) == sorted(warm)
        # df cache primed: a repeat lookup must not miss
        pairs = sorted({(s, t) for s in ["text"] for t in ["get", "user"]})
        engine._df_for_pairs(pairs)
        before = dict(engine._df_cache)
        engine._df_for_pairs(pairs)
        assert engine._df_cache == before
    finally:
        engine.unwarm()


def test_search_many_ordering_contract(spark, engine):
    df = engine.search_many([("a", None, "get user"), ("b", None, "cache")], limit=5)
    rows = df.collect()
    per_q = {}
    for r in rows:
        per_q.setdefault(r["query_id"], []).append((r["score"], r["doc_id"]))
    for q, hits in per_q.items():
        assert len(hits) <= 5
        ranked = sorted(hits, key=lambda h: (-h[0], h[1]))
        assert hits == ranked


def test_serve_stream_matches_search_many(spark, engine):
    # 3 batches incl. ranges/wildcards so the prefetch path runs per batch
    batches = [QUERIES[:4], QUERIES[4:8], QUERIES[8:]]
    got = engine.serve_stream(batches, limit=7)
    assert len(got) == len(batches)
    for b, res in zip(batches, got):
        exp = engine.search_many(b, limit=7).collect()
        norm = lambda rows: sorted((r["query_id"], r["doc_id"],
                                    round(r["score"], 9)) for r in rows)
        assert norm(res) == norm(exp)


def test_prefetch_batch_fills_df_and_range_caches(spark, engine):
    engine._range_cache.clear()
    engine._df_cache.clear()
    engine._cf_cache.clear()
    engine.search_many([("a", None, "get user"), ("b", None, "[se TO st]")],
                       limit=5)
    # exact terms and absent terms are cached; range expansion cached
    assert ("text", "get") in engine._df_cache
    assert engine._range_cache  # one expanded range
    # a followup with the same terms must not run a lookup job
    before = dict(engine._df_cache)
    engine._df_for_pairs([("text", "get"), ("text", "user")])
    assert engine._df_cache == before


def test_serve_stream_depths_and_merged_prefetch(spark, engine):
    # depth=1 (strict serial jobs) and depth=3 must both preserve batch
    # order and match per-batch search_many; merged prefetch path is hit
    # because batches is a list with >1 entries
    batches = [QUERIES[:4], QUERIES[4:8], QUERIES[8:]]
    engine._df_cache.clear()
    engine._cf_cache.clear()
    engine._range_cache.clear()
    for depth in (1, 3):
        got = engine.serve_stream(batches, limit=7, depth=depth)
        assert len(got) == len(batches)
        for b, res in zip(batches, got):
            exp = engine.search_many(b, limit=7).collect()
            norm = lambda rows: sorted((r["query_id"], r["doc_id"],
                                        round(r["score"], 9)) for r in rows)
            assert norm(res) == norm(exp), depth


def test_search_many_answers_match_all(spark, engine):
    """*:* and a match-all tree go through the batch route like any other
    query: the batch equals per-query search(), cold and warmed."""
    batch = [("a", None, "get"), ("b", None, "*:*"),
             ("c", None, "*:* -user"), ("d", "repo-01", "*:* -cache")]
    cold = SearchEngine(spark, engine.catalog)
    warm = SearchEngine(spark, engine.catalog).warm()
    try:
        for eng in (cold, warm):
            got = _rows(eng.search_many(batch, limit=40))
            want = [(qid, r["doc_id"], round(r["score"], 9))
                    for qid, repo, q in batch
                    for r in eng.search(repo, q, limit=40).collect()]
            assert sorted(got) == sorted(want)
            assert {q for q, _, _ in got} == {"a", "b", "c", "d"}
    finally:
        warm.unwarm()


def test_warmed_driver_path_mixed_phrase_positions(spark, engine):
    """Warmed single-query driver fast path with mixed phrase+term queries:
    the positions-selective block fetch (pos_pairs) must keep phrase streams
    and null the plain terms' — rankings identical to an unwarmed engine's
    distributed route, and a term cached WITHOUT positions refetches when a
    phrase needs it."""
    cold = SearchEngine(spark, engine.catalog)
    engine.warm()
    engine._blocks_cache.clear()
    try:
        # prime 'user' as a plain term (cached positions-free)...
        engine.search(None, "user", limit=10).collect()
        ent = engine._blocks_cache.get(("text", "user"))
        assert ent is not None and not ent["has_pos"]
        # ...then demand it inside phrases (exact + sloppy) and mixed queries
        for q in ['"get user"', '"user name"^3 cache', '"get user"~2 index']:
            a = sorted((r["doc_id"], round(r["score"], 9)) for r in
                       engine.search(None, q, limit=25).collect())
            b = sorted((r["doc_id"], round(r["score"], 9)) for r in
                       cold.search(None, q, limit=25).collect())
            assert a == b, q
        assert engine._blocks_cache[("text", "user")]["has_pos"]
    finally:
        engine.unwarm()
