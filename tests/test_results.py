"""Search-adjacent modules: paging, suggest, spellcheck, highlight, facets,
grouped top-k (query/results.py + SearchEngine methods), checked against
brute-force recomputation from the raw corpus rows."""

from collections import Counter

import pytest

from lucene_plugin_spark.analysis.tokenizer import tokenize_text
from lucene_plugin_spark.corpus import generate_rows
from lucene_plugin_spark.index.builder import IndexBuilder
from lucene_plugin_spark.query.executor import SearchEngine
from lucene_plugin_spark.query.results import (best_passages,
                                               drill_down_hits,
                                               drill_sideways, facet_counts,
                                               group_top_k, highlight)
from lucene_plugin_spark.storage.catalog import Catalog

N_DOCS = 300


@pytest.fixture(scope="module")
def built(spark, tmp_path_factory):
    wh = str(tmp_path_factory.mktemp("wh"))
    rows = generate_rows(N_DOCS, seed=7)
    catalog = Catalog(wh)
    IndexBuilder(spark, catalog, docs_per_slice=100).build(
        spark.createDataFrame(rows)
        .select("repo", "path", "commit", "lang", "content"))
    return catalog, rows


def _engine(spark, built):
    return SearchEngine(spark, built[0]).warm()


# ------------------------------------------------------------------ paging
def test_search_page_slices_the_full_ranking(spark, built):
    eng = _engine(spark, built)
    full = [(r["doc_id"], round(r["score"], 9))
            for r in eng.search(None, "index query", limit=30).collect()]
    for offset, limit in ((0, 10), (10, 10), (20, 5), (7, 9)):
        page = [(r["doc_id"], round(r["score"], 9)) for r in
                eng.search_page(None, "index query",
                                limit=limit, offset=offset).collect()]
        assert page == full[offset:offset + limit], (offset, limit)


def test_search_page_offset_zero_is_search(spark, built):
    eng = _engine(spark, built)
    a = [r["doc_id"] for r in
         eng.search_page(None, "cache", limit=10, offset=0).collect()]
    b = [r["doc_id"] for r in eng.search(None, "cache", limit=10).collect()]
    assert a == b


def test_search_page_past_end_is_empty(spark, built):
    eng = _engine(spark, built)
    n = eng.search(None, "index", limit=1_000_000).count()
    assert eng.search_page(None, "index", limit=10, offset=n + 5).count() == 0


# ----------------------------------------------------------------- suggest
def _brute_cf(rows):
    cf = Counter()
    for r in rows:
        for t, _pos in tokenize_text(r["content"]):
            cf[t] += 1
    return cf


def test_suggest_matches_brute_cf(spark, built):
    eng = _engine(spark, built)
    cf = _brute_cf(built[1])
    want = sorted(((t, c) for t, c in cf.items() if t.startswith("s")),
                  key=lambda x: (-x[1], x[0]))[:10]
    got = [(r["term"], r["cf"]) for r in eng.suggest("s", limit=10).collect()]
    assert got == want


def test_suggest_no_match_prefix_empty(spark, built):
    eng = _engine(spark, built)
    assert eng.suggest("zzzqqq", limit=10).count() == 0


def test_suggest_infix_matches_brute_cf(spark, built):
    # AnalyzingInfixSuggester analogue: contains-anywhere, cf-ranked, and
    # the forced gram-sidecar strategy returns the identical list
    eng = _engine(spark, built)
    cf = _brute_cf(built[1])
    for sub in ("nde", "ue", "s"):
        want = sorted(((t, c) for t, c in cf.items() if sub in t),
                      key=lambda x: (-x[1], x[0]))[:10]
        got = [(r["term"], r["cf"])
               for r in eng.suggest_infix(sub, limit=10).collect()]
        assert got == want and got, sub
    eng2 = _engine(spark, built)
    eng2.gram_expand = "gram"
    a = [(r["term"], r["cf"])
         for r in eng2.suggest_infix("nde", limit=10).collect()]
    assert a == [(r["term"], r["cf"])
                 for r in eng.suggest_infix("nde", limit=10).collect()]
    assert eng.suggest_infix("zzqx", limit=10).count() == 0
    assert eng.suggest_infix("", limit=10).count() == 0


# ------------------------------------------------------------ best passages
def test_best_passages_vs_brute(spark, built):
    import math

    from lucene_plugin_spark.query import bm25
    eng = _engine(spark, built)
    catalog, rows = built
    terms, width, k = ["index", "query"], 16, 10
    got = {r["doc_id"]: (r["passage"], round(r["p_score"], 9), r["snippet"])
           for r in best_passages(eng, None, terms, width=width,
                                  limit=k).collect()}
    # brute force over the same analyzed positions + raw word slices
    by_path = {r["path"]: r["content"] for r in rows}
    hits = [(r["doc_id"], r["path"]) for r in
            eng.search(None, "index query", limit=k).collect()]
    n_docs = len(rows)
    dfs = {t: sum(1 for r in rows
                  if t in {x for x, _ in tokenize_text(r["content"])})
           for t in terms}
    idf = {t: float(bm25.idf(float(d), float(n_docs)))
           for t, d in dfs.items() if d}
    assert got and set(got) == {d for d, _ in hits}
    for doc_id, path in hits:
        content = by_path[path]
        scores = {}
        for t, pos in tokenize_text(content):
            if t in idf:
                scores[pos // width] = scores.get(pos // width, 0.0) + idf[t]
        want_p = min(sorted(scores, key=lambda p: (-scores[p], p))[:1])
        words = _prestop_tokens(content)
        want_snip = " ".join(words[want_p * width:(want_p + 1) * width])
        gp, gs, gsnip = got[doc_id]
        assert gp == want_p and gsnip == want_snip, doc_id
        assert math.isclose(gs, round(scores[want_p], 9), rel_tol=1e-9)


def _prestop_tokens(content: str) -> list[str]:
    """The analyzer's PRE-stop token stream (position-aligned), derived
    independently of the engine's Column twin."""
    import re

    from lucene_plugin_spark.analysis import tokenizer as T
    s = re.sub(T._CAMEL_1[0], T._CAMEL_1[1], content)
    s = re.sub(T._CAMEL_2[0], T._CAMEL_2[1], s)
    s = s.lower()
    for pat, rep in T._MID_PROTECT:
        s = re.sub(pat, rep, s)
        s = re.sub(pat, rep, s)
    out = []
    for x in re.split(T._SPLIT_RE, s):
        if not x:
            continue
        for ph, ch in T._MID_RESTORE:
            x = x.replace(ph, ch)
        out.append(x)
    return out


def test_best_passages_snippet_aligns_on_messy_text(spark, tmp_path_factory):
    """Snippets must be cut by ANALYZER positions: camelCase splits,
    double spaces and edge punctuation shift a whitespace-word window off
    the scored occurrences — the analyzed-token window never does."""
    from lucene_plugin_spark.index.builder import IndexBuilder
    from lucene_plugin_spark.query.executor import SearchEngine
    from lucene_plugin_spark.storage.catalog import Catalog
    filler = " ".join(f"w{i}" for i in range(20))
    messy = ("someCamelCaseIdentifier  opens, the. file!  " + filler
             + " then zebra quokka appear near zebra again " + filler)
    rows = [{"repo": "r", "path": "messy", "commit": "c", "lang": "py",
             "content": messy},
            {"repo": "r", "path": "plain", "commit": "c", "lang": "py",
             "content": "zebra sits alone here"}]
    wh = str(tmp_path_factory.mktemp("wh-pass"))
    catalog = Catalog(wh)
    IndexBuilder(spark, catalog, docs_per_slice=8).build(
        spark.createDataFrame(rows).select(
            "repo", "path", "commit", "lang", "content"))
    eng = SearchEngine(spark, catalog)
    width = 8
    out = {r["path"]: r for r in
           best_passages(eng, None, ["zebra", "quokka"], width=width,
                         limit=10).collect()}
    for path, r in out.items():
        content = next(x["content"] for x in rows if x["path"] == path)
        toks = _prestop_tokens(content)
        p = r["passage"]
        want = " ".join(toks[p * width:(p + 1) * width])
        assert r["snippet"] == want, (path, r["snippet"], want)
        # the winning window really contains scored occurrences
        assert "zebra" in r["snippet"].split(" "), path
    assert "quokka" in out["messy"]["snippet"].split(" ")


# ------------------------------------------------------------ drill-sideways
def test_drill_sideways_and_down(spark, built):
    eng = _engine(spark, built)
    catalog, rows = built
    hits = eng.search(None, "index query", limit=1_000_000)
    match_paths = {r["path"] for r in hits.collect()}
    base = [r for r in rows if r["path"] in match_paths]
    drill = {"lang": "py"}
    got = {(r["facet"], r["value"]): r["doc_count"]
           for r in drill_sideways(eng, hits, drill,
                                   ["lang", "repo"]).collect()}
    # sideways: lang counts ignore the lang drill; repo counts apply it
    want = {}
    for r in base:
        want.setdefault(("lang", r["lang"]), 0)
        want[("lang", r["lang"])] += 1
        if r["lang"] == "py":
            want.setdefault(("repo", r["repo"]), 0)
            want[("repo", r["repo"])] += 1
    assert got == want and ("lang", "py") in got
    # multi-dim drill: each dim's counts drop only its own filter
    repos = sorted({r["repo"] for r in base})
    drill2 = {"lang": "py", "repo": repos[0]}
    got2 = {(r["facet"], r["value"]): r["doc_count"]
            for r in drill_sideways(eng, hits, drill2,
                                    ["lang", "repo"]).collect()}
    want2 = {}
    for r in base:
        if r["repo"] == repos[0]:
            want2.setdefault(("lang", r["lang"]), 0)
            want2[("lang", r["lang"])] += 1
        if r["lang"] == "py":
            want2.setdefault(("repo", r["repo"]), 0)
            want2[("repo", r["repo"])] += 1
    assert got2 == want2
    # empty facet list degrades to an empty, correctly-typed frame
    e = drill_sideways(eng, hits, drill, [])
    assert e.count() == 0
    assert e.columns == ["facet", "value", "doc_count"]
    # drill-down hit set: base hits restricted to the drilled values,
    # scores untouched
    dh = drill_down_hits(eng, hits, drill)
    dh_rows = {r["path"]: r["score"] for r in dh.collect()}
    assert set(dh_rows) == {r["path"] for r in base if r["lang"] == "py"}
    full = {r["path"]: r["score"] for r in hits.collect()}
    assert all(abs(dh_rows[p] - full[p]) < 1e-12 for p in dh_rows)


# --------------------------------------------------------------- spellcheck
def _lev(a: str, b: str) -> int:
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[-1] + 1,
                           prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


def test_spellcheck_matches_brute(spark, built):
    eng = _engine(spark, built)
    cf = _brute_cf(built[1])
    queries = ["indx", "qery", "cach"]
    want = []
    for qt in queries:
        cands = [(t, _lev(qt, t), c) for t, c in cf.items()
                 if abs(len(t) - len(qt)) <= 2 and _lev(qt, t) <= 2]
        cands.sort(key=lambda x: (x[1], -x[2], x[0]))
        if cands:
            t, d, c = cands[0]
            want.append((qt, t, d, c))
    got = [(r["qterm"], r["suggestion"], r["dist"], r["cf"])
           for r in eng.spellcheck(queries).collect()]
    assert sorted(got) == sorted(want)


def test_spellcheck_three_strategies_agree(spark, built):
    # driver gram-dict path (small vocab), distributed spell_grams sidecar
    # path (equi-join with literal gram IN (...) pushed into the scan), and
    # the full-vocabulary band scan must produce IDENTICAL output for
    # max_dist <= 2 — short terms ('' bucket), long terms (pigeonhole
    # guarantee), 1-char queries (no grams at all)
    eng = _engine(spark, built)
    queries = ["indx", "qery", "cach", "connecction", "authentiaction",
               "configuratoin", "ab", "x", "repositry", "tokenzier",
               "implemenation", "zzzzzz"]
    for per_term, dist in ((1, 2), (3, 2), (2, 1)):
        rows = lambda df: sorted(  # noqa: E731
            (r["qterm"], r["suggestion"], r["dist"], r["cf"])
            for r in df.collect())
        driver = rows(eng.spellcheck(queries, max_dist=dist,
                                     per_term=per_term, strategy="driver"))
        gram = rows(eng.spellcheck(queries, max_dist=dist,
                                   per_term=per_term, strategy="gram"))
        band = rows(eng.spellcheck(queries, max_dist=dist,
                                   per_term=per_term, strategy="band"))
        auto = rows(eng.spellcheck(queries, max_dist=dist,
                                   per_term=per_term))
        assert driver == band, (per_term, dist)
        assert gram == band, (per_term, dist)
        assert auto == band, (per_term, dist)
    # strategy validation: gram/driver blocking is lossless only to dist 2
    import pytest
    with pytest.raises(ValueError):
        eng.spellcheck(["indx"], max_dist=3, strategy="gram")
    with pytest.raises(ValueError):
        eng.spellcheck(["indx"], max_dist=3, strategy="driver")
    with pytest.raises(ValueError):
        eng.spellcheck(["indx"], strategy="fst")
    # small vocab resolved driver-side; the sidecar was still exercised and
    # is stamped with the term_dict snapshot it saw
    assert eng._spell_local_index("text") is not None
    catalog = built[0]
    sg = catalog.table("spell_grams")
    assert sg.exists()
    assert (sg.snapshot().properties["source_term_dict"]
            == catalog.table("term_dict").current_snapshot_id())


def test_spellcheck_per_term_k(spark, built):
    eng = _engine(spark, built)
    out = eng.spellcheck(["indx"], per_term=3).collect()
    assert 1 <= len(out) <= 3
    dists = [r["dist"] for r in out]
    assert dists == sorted(dists)


# ---------------------------------------------------------------- highlight
def test_highlight_snippet_exact(spark, tmp_path):
    wh = str(tmp_path / "wh")
    docs = [
        ("r", "000001", "c", "en", "alpha spark beta gamma delta"),
        ("r", "000002", "c", "en", "spark leads the line here today"),
        ("r", "000003", "c", "en", "no match in this document at all"),
    ]
    catalog = Catalog(wh)
    IndexBuilder(spark, catalog, docs_per_slice=10).build(
        spark.createDataFrame(docs, "repo string, path string, commit string,"
                                    " lang string, content string"))
    eng = SearchEngine(spark, catalog).warm()
    hits = eng.search(None, "spark", limit=10)
    out = {r["path"]: r["snippet"]
           for r in highlight(eng, hits, "spark", window=20).collect()}
    assert set(out) == {"000001", "000002"}
    # padded doc1 = ' alpha spark beta gamma delta ': match at pos 7, the
    # 20-char window is ' spark beta gamma de', then the wrap lengthens it
    assert out["000001"] == " <em>spark</em> beta gamma de"
    # padded doc2: match at pos 1, window ' spark leads the lin'
    assert out["000002"] == " <em>spark</em> leads the lin"


def test_highlight_preserves_ranking(spark, built):
    eng = _engine(spark, built)
    hits = eng.search(None, "index", limit=10)
    want = [r["doc_id"] for r in hits.collect()]
    got = [r["doc_id"]
           for r in highlight(eng, hits, "index", window=40).collect()]
    assert got == want


# ------------------------------------------------------------------- facets
def test_facet_counts_match_brute(spark, built):
    eng = _engine(spark, built)
    hits = eng.search(None, "index query", limit=1_000_000)
    match_paths = {r["path"] for r in hits.collect()}
    rows = [r for r in built[1] if r["path"] in match_paths]
    want = set()
    for col in ("lang", "repo"):
        c = Counter(r[col] for r in rows)
        want |= {(col, v, n) for v, n in c.items()}
    got = {(r["facet"], r["value"], r["doc_count"])
           for r in facet_counts(eng, hits, ["lang", "repo"]).collect()}
    assert got == want


# ------------------------------------------------------------ grouped top-k
def test_group_top_k_matches_brute(spark, built):
    eng = _engine(spark, built)
    hits = eng.search(None, "index query", limit=1_000_000)
    by_path = {r["path"]: r for r in built[1]}
    scored = [(by_path[r["path"]]["lang"], r["doc_id"], round(r["score"], 9))
              for r in hits.collect()]
    want = []
    langs = sorted({g for g, _, _ in scored})
    for g in langs:
        grp = sorted(((s, d) for gg, d, s in scored if gg == g),
                     key=lambda x: (-x[0], x[1]))[:2]
        want += [(g, i + 1, d, s) for i, (s, d) in enumerate(grp)]
    got = [(r["group"], r["rank"], r["doc_id"], round(r["score"], 9))
           for r in group_top_k(eng, hits, "lang", k=2).collect()]
    assert got == want


# ---------------------------------------------------------------- span-near
@pytest.fixture(scope="module")
def span_built(spark, tmp_path_factory):
    wh = str(tmp_path_factory.mktemp("wh_span"))
    docs = [
        ("r", "000000", "c", "en", "alpha beta gamma"),          # a<b, d=1
        ("r", "000001", "c", "en", "beta alpha gamma"),          # b<a, d=1
        ("r", "000002", "c", "en", "alpha x1 x2 x3 beta"),       # a<b, d=4
        ("r", "000003", "c", "en", "alpha only here gamma"),     # no beta
    ]
    catalog = Catalog(wh)
    IndexBuilder(spark, catalog, docs_per_slice=10).build(
        spark.createDataFrame(docs, "repo string, path string, commit string,"
                                    " lang string, content string"))
    return SearchEngine(spark, catalog).warm()


def test_span_near_unordered_ignores_direction(spark, span_built):
    eng = span_built
    got = {r["path"] for r in
           eng.span_near(None, "text", ["alpha", "beta"], slop=1,
                         in_order=False, limit=10).collect()}
    # d = min |pos(beta) - pos(alpha)| per anchor: doc0 d=1, doc1 d=1,
    # doc2 d=4 (> slop), doc3 no beta
    assert got == {"000000", "000001"}


def test_span_near_ordered_requires_order(spark, span_built):
    eng = span_built
    got = {r["path"] for r in
           eng.span_near(None, "text", ["alpha", "beta"], slop=1,
                         in_order=True, limit=10).collect()}
    # ordered expects beta at anchor+1: doc0 d=0, doc1 d=2 (> slop)
    assert got == {"000000"}


def test_span_near_ordered_equals_sloppy_phrase(spark, built):
    eng = _engine(spark, built)
    a = [(r["doc_id"], round(r["score"], 9)) for r in
         eng.span_near(None, "text", ["index", "query"], slop=2,
                       in_order=True, limit=20).collect()]
    b = [(r["doc_id"], round(r["score"], 9)) for r in
         eng.search(None, '"index query"~2', limit=20).collect()]
    assert a == b


def test_span_near_slop_widens_matches(spark, span_built):
    eng = span_built
    narrow = eng.span_near(None, "text", ["alpha", "beta"], slop=1,
                           in_order=False, limit=10).count()
    wide = eng.span_near(None, "text", ["alpha", "beta"], slop=4,
                         in_order=False, limit=10).count()
    assert wide == 3 and narrow == 2


# ------------------------------------------------------------- field sort
def test_search_sorted_matches_brute(spark, built):
    eng = _engine(spark, built)
    match_paths = {r["path"] for r in
                   eng.search(None, "index", limit=1_000_000).collect()}
    rows = [r for r in built[1] if r["path"] in match_paths]
    want = [(r["lang"], r["path"]) for r in
            sorted(rows, key=lambda r: (r["lang"], r["repo"], r["path"]))][:15]
    got = [(r["sort_key"], r["path"]) for r in
           eng.search_sorted(None, "index", "lang", limit=15).collect()]
    assert got == want


def test_search_sorted_descending(spark, built):
    eng = _engine(spark, built)
    got = [r["sort_key"] for r in
           eng.search_sorted(None, "index", "lang", limit=15,
                             ascending=False).collect()]
    assert got == sorted(got, reverse=True)


def test_search_sorted_rejects_unknown_field(spark, built):
    eng = _engine(spark, built)
    with pytest.raises(ValueError):
        eng.search_sorted(None, "index", "nosuchfield", limit=5)


# ---------------------------------------------------------------- match-all
def test_match_all_returns_every_doc(spark, built):
    eng = _engine(spark, built)
    assert eng.search(None, "*:*", limit=1_000_000).count() == N_DOCS
    hits = eng.search(None, "*:*", limit=5).collect()
    assert all(r["score"] == 1.0 for r in hits)
    # collection-scoped match-all
    repo0 = built[1][0]["repo"]
    want = sum(1 for r in built[1] if r["repo"] == repo0)
    assert eng.search(repo0, "*:*", limit=1_000_000).count() == want


def test_match_all_respects_deletes(spark, tmp_path):
    from lucene_plugin_spark import LuceneFacade
    fac = LuceneFacade(spark, str(tmp_path / "wh_ma"))
    for i in range(6):
        fac.index_text("ma", f"d{i}", f"alpha doc number {i}")
    assert len(fac.search("ma", "*:*", 100)) == 6
    fac.delete("ma", "d3")
    got = {h.external_id for h in fac.search("ma", "*:*", 100)}
    assert got == {"d0", "d1", "d2", "d4", "d5"}
    # upsert must not double-count the superseded generation
    fac.index_text("ma", "d0", "alpha doc number zero rewritten")
    assert len(fac.search("ma", "*:*", 100)) == 5


def test_match_all_covers_docs_without_tokens(spark, tmp_path):
    """Docs whose content is empty or only stopwords have no postings and no
    norms rows, yet *:*, -x and a -x match them.  With docs_per_slice=6 the
    slice of docIDs 12-17 holds only such docs (z02..z07, repo r0's tail),
    and z07 is deleted; both routes must equal the oracle."""
    from lucene_plugin_spark.index.mutations import IndexMutator
    from lucene_plugin_spark.oracle import OracleEngine
    from lucene_plugin_spark.query.simple import parse_simple, simple_query_search
    texts = ["alpha beta", "beta gamma x", "", "the of a", "alpha x"]
    rows = [{"repo": f"r{i % 2}", "path": f"p{i:02d}", "commit": "c",
             "lang": "txt", "content": texts[i % 5]} for i in range(20)]
    rows += [{"repo": "r0", "path": f"z{i:02d}", "commit": "c", "lang": "txt",
              "content": "" if i % 2 else "the and of"} for i in range(12)]
    catalog = Catalog(str(tmp_path / "wh_empty"))
    builder = IndexBuilder(spark, catalog, docs_per_slice=6)
    builder.build(spark.createDataFrame(rows).select(
        "repo", "path", "commit", "lang", "content"))
    IndexMutator(spark, catalog, builder).delete("r0", "z07")
    oracle = OracleEngine.from_rows(rows)
    oracle.delete("r0", "z07")

    def want(q, repo):
        docs = [d for d in oracle.docs.values() if repo in (None, d.repo)]
        hits = oracle._eval_node(parse_simple(q), docs)
        return sorted((d, oracle.docs[d].path, round(s, 9))
                      for d, s in hits.items())

    for eng in (SearchEngine(spark, catalog), SearchEngine(spark, catalog).warm()):
        for repo in (None, "r0"):
            for q, run in (("*", lambda: eng.search(repo, "*:*", limit=100)),
                           ("-x", lambda: simple_query_search(
                               eng, repo, "-x", limit=100)),
                           ("alpha -x", lambda: simple_query_search(
                               eng, repo, "alpha -x", limit=100))):
                got = sorted((r["doc_id"], r["path"], round(r["score"], 9))
                             for r in run().collect())
                assert got == want(q, repo), (q, repo, eng._path_map is None)
                assert {"z00", "z01", "z11"} <= {p for _, p, _ in got}, q
                assert "z07" not in {p for _, p, _ in got}, q
