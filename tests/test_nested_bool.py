"""Nested boolean queries (parenthesized sub-queries) — recursive Lucene
BooleanWeight/BS2 semantics instead of the unsound flatten.

Reference semantics: Lucene BooleanQuery evaluates each clause's sub-weight
recursively — ``(alpha beta) AND gamma`` requires the inner disjunction to
match; flattening it to ``should=[alpha, beta], must=[gamma]`` would let a
gamma-only doc through (SHOULD is optional once a MUST exists).  The classic
QueryParser the reference exposes (LuceneIndexBean.java:385-393) accepts
parentheses, so these shapes are reachable from its query strings.

Engine tree path (query/executor.py `_eval_tree_slice`) vs the pure-Python
oracle's recursive `_eval_node`; plus the flatten-safe `simplify` rewrites.
"""

import numpy as np
import pytest

from lucene_plugin_spark.corpus import generate_rows
from lucene_plugin_spark.index.builder import IndexBuilder
from lucene_plugin_spark.oracle import OracleEngine
from lucene_plugin_spark.query.parser import parse_query
from lucene_plugin_spark.query.plan import (Bool, DisMax, Term, is_nested,
                                            simplify)
from lucene_plugin_spark.query.executor import SearchEngine
from lucene_plugin_spark.storage.catalog import Catalog

N_DOCS = 300

NESTED_QUERIES = [
    "(index query) AND class",
    "((index query) AND class) -merge",
    "(index AND query) (class AND set)",
    '("public static" index) AND query',
    "(index query) AND (class user)",
    "(index query cache) AND (class user) -merge",
]


@pytest.fixture(scope="module")
def built(spark, tmp_path_factory):
    wh = str(tmp_path_factory.mktemp("wh"))
    rows = generate_rows(N_DOCS, seed=11)
    catalog = Catalog(wh)
    builder = IndexBuilder(spark, catalog, docs_per_slice=64)
    src = spark.createDataFrame(rows).select(
        "repo", "path", "commit", "lang", "content")
    builder.build(src)
    return catalog, OracleEngine.from_rows(rows), rows


def _got(df):
    return [(r["doc_id"], r["path"], r["score"]) for r in df.collect()]


def _assert_match(got, want):
    assert [g[0] for g in got] == [w[0] for w in want]
    assert np.allclose([g[2] for g in got], [w[2] for w in want],
                       rtol=1e-9, atol=1e-12)


@pytest.mark.parametrize("q", NESTED_QUERIES)
def test_nested_engine_vs_oracle(spark, built, q):
    catalog, oracle, _ = built
    eng = SearchEngine(spark, catalog)
    got = _got(eng.search(None, q, limit=50))
    want = oracle.search(None, q, limit=50)
    assert got, f"{q!r} must hit for the test to mean anything"
    _assert_match(got, want)


def test_nested_gates_unlike_flatten(spark, built):
    """A doc matching ONLY the MUST term is excluded — the flattened form
    would (wrongly) return it."""
    catalog, oracle, rows = built
    eng = SearchEngine(spark, catalog)
    q = "(index query) AND class"
    hits = {r["path"] for r in eng.search(None, q, limit=10_000).collect()}
    flat_hits = {r["path"] for r in
                 eng.search(None, "index query class", limit=10_000).collect()}
    # ANALYZED tokens (camelCase splits included), from the oracle
    only_must = [d.path for d in oracle.docs.values()
                 if (lambda ts: "class" in ts and "index" not in ts
                     and "query" not in ts)(
                     {t for t, _ in d.tokens.get("text", [])})]
    assert only_must, "corpus must contain a class-only doc"
    assert not (set(only_must) & hits)
    assert set(only_must) <= flat_hits  # plain OR does include them


def test_nested_driver_vs_distributed_kernel(spark, built):
    catalog, _, _ = built
    warm = SearchEngine(spark, catalog).warm(collect_paths=True)
    cold = SearchEngine(spark, catalog)
    cold.driver_exec_max_postings = -1  # force the distributed kernel
    for q in NESTED_QUERIES[:3]:
        _assert_match(_got(warm.search(None, q, limit=50)),
                      _got(cold.search(None, q, limit=50)))


def test_nested_in_search_many_batch(spark, built):
    """Batched execution compiles nested plans per-query (no silent
    flatten): search_many == per-query search for nested strings."""
    catalog, _, _ = built
    eng = SearchEngine(spark, catalog)
    batch = [(f"q{i}", None, q) for i, q in enumerate(NESTED_QUERIES)]
    out = eng.search_many(batch, limit=20).collect()
    by_qid: dict = {}
    for r in out:
        by_qid.setdefault(r["query_id"], []).append(
            (r["doc_id"], r["path"], r["score"]))
    for i, q in enumerate(NESTED_QUERIES):
        single = _got(eng.search(None, q, limit=20))
        assert by_qid.get(f"q{i}", []) == single, q


def test_simplify_flatten_safe_shapes():
    t = lambda w: Term(field="text", term=w)  # noqa: E731
    # pure-should nesting inlines
    n = simplify(parse_query("(alpha beta) gamma"))
    assert isinstance(n, Bool) and len(n.should) == 3 and not is_nested(n)
    # AND associativity inlines
    n = simplify(parse_query("(alpha AND beta) AND gamma"))
    assert isinstance(n, Bool) and len(n.must) == 3 and not is_nested(n)
    # De Morgan distributes a disjunctive NOT
    n = simplify(parse_query("-(alpha beta) gamma"))
    assert isinstance(n, Bool) and len(n.must_not) == 2 and not is_nested(n)
    # single-clause unwrap
    n = simplify(parse_query("(alpha) AND gamma"))
    assert isinstance(n, Bool) and all(
        isinstance(c, Term) for c in n.must) and not is_nested(n)
    # the unsound shape stays nested
    n = simplify(parse_query("(alpha beta) AND gamma"))
    assert is_nested(n)
    # mm > 1 blocks should-inlining (clause counting would change)
    n = simplify(Bool(should=(Bool(should=(t("a"), t("b"))), t("c")),
                      min_should=2))
    assert is_nested(n)
    # nested DisMax routes to the tree
    assert is_nested(DisMax(disjuncts=(
        Bool(must=(t("a"),), should=(t("b"),)),), tie=0.1))


def test_nested_with_mm_and_filter_nodes(spark, built):
    """Programmatic nested plans: mm inside a nested Bool and FILTER around
    a nested disjunction (search_node surface)."""
    catalog, oracle, _ = built
    eng = SearchEngine(spark, catalog)
    t = lambda w: Term(field="text", term=w)  # noqa: E731
    inner = Bool(should=(t("index"), t("query"), t("cache")), min_should=2)
    node = Bool(must=(inner, t("class")))
    got = _got(eng.search_node(node, None, limit=50))
    assert got
    # mirror with the oracle's recursive evaluator
    docs = list(oracle.docs.values())
    want_map = oracle._eval_node(node, docs)
    ranked = sorted(((s, d) for d, s in want_map.items()),
                    key=lambda x: (-x[0], x[1]))[:50]
    want = [(d, oracle.docs[d].path, s) for s, d in ranked]
    _assert_match(got, want)
