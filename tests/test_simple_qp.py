"""SimpleQueryParser analogue (query/simple.py) — grammar/combine semantics
vs hand-built expectations, and engine execution vs the pure-Python oracle's
recursive ``_eval_node`` on the same parse tree.

Lucene model: org.apache.lucene.queryparser.simple.SimpleQueryParser (the
queryparser module shipped beside the classic parser the reference
instantiates at LuceneIndexBean.java:727-735): lenient parsing, `+`/`|`/`-`
operators with strictly left-associative buildQueryTree combining, trailing
`*` prefix, `~N` fuzzy/slop, and the BQ{SHOULD(MatchAll), MUST_NOT(x)}
negation wrap.
"""

import numpy as np
import pytest

from lucene_plugin_spark.corpus import generate_rows
from lucene_plugin_spark.index.builder import IndexBuilder
from lucene_plugin_spark.oracle import OracleEngine
from lucene_plugin_spark.query.executor import SearchEngine
from lucene_plugin_spark.query.plan import (Bool, Fuzzy, MatchAll, Phrase,
                                            Term, Wildcard)
from lucene_plugin_spark.query.simple import parse_simple, simple_query_search
from lucene_plugin_spark.storage.catalog import Catalog

N_DOCS = 200


@pytest.fixture(scope="module")
def built(spark, tmp_path_factory):
    wh = str(tmp_path_factory.mktemp("wh-sqp"))
    rows = generate_rows(N_DOCS, seed=7)
    catalog = Catalog(wh)
    IndexBuilder(spark, catalog, docs_per_slice=64).build(
        spark.createDataFrame(rows).select(
            "repo", "path", "commit", "lang", "content"))
    return catalog, OracleEngine.from_rows(rows)


def _t(w):
    return Term(field="text", term=w)


# --------------------------------------------------------------------------
# grammar / combine semantics (driver-side, no Spark)
# --------------------------------------------------------------------------

def test_operators_and_left_assoc():
    assert parse_simple("foo") == _t("foo")
    assert parse_simple("foo bar") == Bool(should=(_t("foo"), _t("bar")))
    assert parse_simple("foo + bar") == Bool(must=(_t("foo"), _t("bar")))
    # same-operator runs EXTEND the current BooleanQuery
    assert parse_simple("foo bar baz") == Bool(
        should=(_t("foo"), _t("bar"), _t("baz")))
    assert parse_simple("foo + bar + baz") == Bool(
        must=(_t("foo"), _t("bar"), _t("baz")))
    # operator changes NEST the accumulated tree (left-assoc, no precedence)
    assert parse_simple("foo | bar + baz") == Bool(
        must=(Bool(should=(_t("foo"), _t("bar"))), _t("baz")))
    assert parse_simple("foo + bar | baz") == Bool(
        should=(Bool(must=(_t("foo"), _t("bar"))), _t("baz")))
    # default operator AND (the configurable Occur)
    assert parse_simple("foo bar", default_operator="must") == Bool(
        must=(_t("foo"), _t("bar")))
    with pytest.raises(ValueError):
        parse_simple("foo", default_operator="nope")


def test_negation_wrap():
    neg = Bool(should=(MatchAll(),), must_not=(_t("foo"),))
    assert parse_simple("-foo") == neg
    assert parse_simple("--foo") == _t("foo")        # toggling, like Lucene
    assert parse_simple("bar -foo") == Bool(should=(_t("bar"), neg))
    # '-' INSIDE a token is text, not negation (tokenFinished keeps it)
    assert parse_simple("foo-bar") == Phrase(
        field="text", terms=("foo", "bar"), offsets=(0, 1))


def test_suffix_operators():
    assert parse_simple("sca*") == Wildcard(field="text", pattern="sca*")
    assert parse_simple("quer~1") == Fuzzy(field="text", term="quer",
                                           max_edits=1)
    assert parse_simple("quer~") == Fuzzy(field="text", term="quer",
                                          max_edits=2)
    assert parse_simple("quer~9") == Fuzzy(field="text", term="quer",
                                           max_edits=2)  # capped like Lucene
    assert parse_simple("quer~0") == _t("quer")
    # inner metacharacters are literal in this grammar: escaped for the
    # wildcard machinery, only the tail '*' globs
    assert parse_simple("f?o*") == Wildcard(field="text", pattern="f\\?o*")
    ph = parse_simple('"get user"~2')
    assert isinstance(ph, Phrase) and ph.slop == 2


def test_groups():
    assert parse_simple("(foo bar) + baz") == Bool(
        must=(Bool(should=(_t("foo"), _t("bar"))), _t("baz")))
    assert parse_simple("foo + (bar | baz)") == Bool(
        must=(_t("foo"), Bool(should=(_t("bar"), _t("baz")))))


def test_lenient():
    # parsing NEVER raises: stray ')', unterminated '("', dangling/leading
    # operators, empty and all-stopword queries
    assert parse_simple(") foo") == _t("foo")
    assert parse_simple("(foo bar") == Bool(should=(_t("foo"), _t("bar")))
    assert parse_simple('"foo bar') == Phrase(
        field="text", terms=("foo", "bar"), offsets=(0, 1))
    assert parse_simple("foo +") == _t("foo")
    assert parse_simple("+ foo") == _t("foo")
    assert parse_simple("| foo") == _t("foo")
    assert parse_simple("") is None
    assert parse_simple("the of a") is None
    assert parse_simple("-") is None
    # a vanished (all-stopword) clause drops its pending negation
    assert parse_simple("foo -the") == _t("foo")
    # a LONE '*' is MatchAllDocsQuery (the SimpleQueryParser special case)
    assert parse_simple("*") == MatchAll()
    assert parse_simple("* -foo") == Bool(
        should=(MatchAll(),
                Bool(should=(MatchAll(),), must_not=(_t("foo"),))))


# --------------------------------------------------------------------------
# execution vs the oracle's recursive evaluator
# --------------------------------------------------------------------------

SIMPLE_QUERIES = [
    "index + query",
    "index | query cache",
    "index + query | cache",
    "index -merge",
    "-merge",
    "index + (query | cache) -merge",
    '"get user"~1',
    "que* + index",
    "quer~1",
]


def _want(oracle, node, k=50):
    docs = list(oracle.docs.values())
    m = oracle._eval_node(node, docs)
    ranked = sorted(((s, d) for d, s in m.items()),
                    key=lambda x: (-x[0], x[1]))[:k]
    return [(d, oracle.docs[d].path, s) for s, d in ranked]


def _got(df):
    return [(r["doc_id"], r["path"], r["score"]) for r in df.collect()]


@pytest.mark.parametrize("q", SIMPLE_QUERIES)
def test_engine_vs_oracle(spark, built, q):
    catalog, oracle = built
    eng = SearchEngine(spark, catalog)
    node = parse_simple(q, variant=eng.analyzer)
    got = _got(simple_query_search(eng, None, q, limit=50))
    want = _want(oracle, node)
    assert got, f"{q!r} must hit for the test to mean anything"
    assert [g[0] for g in got] == [w[0] for w in want], q
    assert np.allclose([g[2] for g in got], [w[2] for w in want],
                       rtol=1e-9, atol=1e-12), q


def test_negation_contributes_not_gates(spark, built):
    """`a -b` must still return docs WITH b (they just miss the +1.0) —
    the wrap is SHOULD(MatchAll) + MUST_NOT, not a top-level exclusion."""
    catalog, oracle = built
    eng = SearchEngine(spark, catalog)
    got = {r["doc_id"]: r["score"]
           for r in simple_query_search(eng, None, "index -merge",
                                        limit=100_000).collect()}
    with_merge = {d.doc_id for d in oracle.docs.values()
                  if any(t == "merge" for t, _ in d.tokens.get("text", []))}
    with_index = {d.doc_id for d in oracle.docs.values()
                  if any(t == "index" for t, _ in d.tokens.get("text", []))}
    assert with_index & with_merge & set(got), \
        "docs with both terms must still match"
    # and every matching no-merge doc scores exactly +1.0 over its twin path
    no_merge_only = set(got) - with_index
    assert no_merge_only and no_merge_only.isdisjoint(with_merge)
    assert all(abs(got[d] - 1.0) < 1e-12 for d in no_merge_only)


def test_kernel_vs_dataframe_identity(spark, built):
    """The warmed engine's driver route ("kernel") and the unwarmed
    engine's distributed route ("dataframe") rank simple-parser trees
    identically, the match-all negation wrap included."""
    catalog, _ = built
    warm = SearchEngine(spark, catalog).warm()
    cold = SearchEngine(spark, catalog)
    try:
        for q in ["index + query", "index | query cache", "que* + index",
                  "index -merge"]:
            node = parse_simple(q, variant=warm.analyzer)
            a = _got(warm.search_node(node, None, 50))
            b = _got(cold.search_node(node, None, 50))
            assert a, q
            assert [x[0] for x in a] == [x[0] for x in b], q
            assert np.allclose([x[2] for x in a], [x[2] for x in b]), q
    finally:
        warm.unwarm()


def test_weights_map_matches_multi_field(spark, built):
    """The SimpleQueryParser(analyzer, weights) constructor shape: bare
    leaves fan out over the weighted fields — identical to the
    MultiFieldQueryParser rewrite on the same tree."""
    from lucene_plugin_spark.query.advanced import multi_field
    catalog, _ = built
    eng = SearchEngine(spark, catalog)
    w = {"text": 1.0, "lang": 2.0}
    got = _got(simple_query_search(eng, None, "index py", weights=w,
                                   limit=50))
    want = _got(multi_field(eng, None, "index py", list(w), boosts=w,
                            limit=50))
    assert got == want and got
