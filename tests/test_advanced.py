"""Round-3 surfaces: analyzer variants (ASCII folding + S-stemming),
cross-table snapshot tags (time travel), and the advanced scoring family
(rescore / constant-score / function-score / ClassicSimilarity / SpanFirst /
federated merge) — engine vs hand-built oracles on the synthetic code corpus.

Lucene analogues per function are documented in query/advanced.py; the
reference reaches them through the IndexSearcher its facade wraps
(LuceneIndexBean.java:727-735).
"""

import math

import numpy as np
import pytest

from lucene_plugin_spark.analysis.tokenizer import (fold_ascii_text,
                                                    stem_s_word,
                                                    tokenize_text)
from lucene_plugin_spark.corpus import generate_rows
from lucene_plugin_spark.index.builder import IndexBuilder
from lucene_plugin_spark.index.mutations import IndexMutator
from lucene_plugin_spark.oracle import OracleEngine
from lucene_plugin_spark.query import advanced, bm25
from lucene_plugin_spark.query.executor import SearchEngine
from lucene_plugin_spark.query.simple import simple_query_search
from lucene_plugin_spark.storage.catalog import Catalog

N_DOCS = 200


def _src(spark, rows):
    return spark.createDataFrame(rows).select(
        "repo", "path", "commit", "lang", "content")


def _got(df):
    return [(r["doc_id"], r["path"], round(r["score"], 9)) for r in df.collect()]


# --------------------------------------------------------------------------
# analyzer variants
# --------------------------------------------------------------------------

def test_stem_s_word_rules():
    assert stem_s_word("queries") == "query"
    assert stem_s_word("tables") == "table"
    assert stem_s_word("dogs") == "dog"
    assert stem_s_word("pass") == "pass"      # -ss guarded
    assert stem_s_word("corpus") == "corpus"  # -us guarded
    assert stem_s_word("goes") == "goes"      # -oes guarded
    assert stem_s_word("is") == "is"          # len guard


def test_fold_and_stem_tokenize():
    toks = [t for t, _ in tokenize_text("Caché naïve Queries søk",
                                        variant="fold_stem")]
    assert toks == ["cache", "naive", "query", "sok"]
    # standard variant: accents split tokens, plurals survive
    toks_std = [t for t, _ in tokenize_text("Caché Queries")]
    assert toks_std == ["cach", "queries"]
    assert fold_ascii_text("œæß") == "oeaess"


@pytest.fixture(scope="module")
def stem_built(spark, tmp_path_factory):
    wh = str(tmp_path_factory.mktemp("wh-stem"))
    rows = generate_rows(N_DOCS, seed=11)
    # salt the corpus with accent/plural forms so the variant is observable
    for i, r in enumerate(rows):
        if i % 3 == 0:
            r["content"] += " caché naïve queries tables"
    catalog = Catalog(wh)
    IndexBuilder(spark, catalog, docs_per_slice=64,
                 analyzer="fold_stem").build(_src(spark, rows))
    return catalog, rows


def test_fold_stem_engine_matches_oracle(spark, stem_built):
    catalog, rows = stem_built
    eng = SearchEngine(spark, catalog)
    assert eng.analyzer == "fold_stem"  # round-tripped via snapshot props
    oracle = OracleEngine.from_rows(rows, analyzer="fold_stem")
    for q in ["query", "queries", "cache table", '"cache naive"']:
        got = _got(eng.search(None, q, limit=50))
        want = [(d, p, round(s, 9)) for d, p, s in oracle.search(None, q, 50)]
        assert got, q
        assert [g[0] for g in got] == [w[0] for w in want], q
        assert np.allclose([g[2] for g in got], [w[2] for w in want]), q
    # the stemmed index conflates query/queries: both spellings hit the
    # salted docs identically
    a = _got(eng.search(None, "query", limit=50))
    b = _got(eng.search(None, "queries", limit=50))
    assert a == b


def test_analyzer_change_invalidates_resume(spark, tmp_path_factory):
    wh = str(tmp_path_factory.mktemp("wh-fp"))
    rows = generate_rows(40, seed=3)
    catalog = Catalog(wh)
    IndexBuilder(spark, catalog, docs_per_slice=64).build(_src(spark, rows))
    sid0 = catalog.table("segments").current_snapshot_id()
    # same docs snapshot, different analyzer -> stages must NOT be skipped
    IndexBuilder(spark, catalog, docs_per_slice=64,
                 analyzer="fold_stem").build_from_docs()
    assert catalog.table("segments").current_snapshot_id() != sid0
    assert SearchEngine(spark, catalog).analyzer == "fold_stem"


# --------------------------------------------------------------------------
# snapshot tags / time travel
# --------------------------------------------------------------------------

def test_tag_time_travel(spark, tmp_path_factory):
    wh = str(tmp_path_factory.mktemp("wh-tag"))
    rows = generate_rows(120, seed=9)
    catalog = Catalog(wh)
    builder = IndexBuilder(spark, catalog, docs_per_slice=64)
    builder.build(_src(spark, rows))
    pins = catalog.tag("v1")
    assert "segments" in pins and "tombstones" not in pins

    mut = IndexMutator(spark, catalog, builder)
    upd = [dict(rows[0], content="totally replaced corpus zyx"),
           dict(rows[1], content="zyx zyx fresh")]
    mut.upsert(_src(spark, upd))
    assert mut.delete(rows[2]["repo"], rows[2]["path"])

    oracle_v1 = OracleEngine.from_rows(rows)
    pinned = SearchEngine.at_tag(spark, catalog, "v1")
    for q in ["index", "get user", '"user name"']:
        got = _got(pinned.search(None, q, limit=100))
        want = [(d, p, round(s, 9)) for d, p, s in oracle_v1.search(None, q, 100)]
        assert [g[:2] for g in got] == [w[:2] for w in want], q
        assert np.allclose([g[2] for g in got], [w[2] for w in want]), q
    # zyx exists only after the tag: pinned reader must not see it
    assert pinned.search(None, "zyx", limit=10).count() == 0
    live = SearchEngine(spark, catalog)
    assert live.search(None, "zyx", limit=10).count() == 2
    with pytest.raises(Exception):
        SearchEngine.at_tag(spark, catalog, "nope")


# --------------------------------------------------------------------------
# advanced scoring family
# --------------------------------------------------------------------------

@pytest.fixture(scope="module")
def built(spark, tmp_path_factory):
    wh = str(tmp_path_factory.mktemp("wh-adv"))
    rows = generate_rows(N_DOCS, seed=7)
    catalog = Catalog(wh)
    IndexBuilder(spark, catalog, docs_per_slice=64).build(_src(spark, rows))
    return catalog, rows, OracleEngine.from_rows(rows)


def test_rescore(spark, built):
    catalog, rows, oracle = built
    eng = SearchEngine(spark, catalog)
    q, rq, window, weight, k = "index query cache", '"get user"', 30, 2.0, 10
    got = _got(advanced.rescore(eng, None, q, rq, window, weight, k))
    base = oracle.search(None, q, limit=window)
    sec = {d: s for d, _, s in oracle.search(None, rq, limit=10 ** 6)}
    comb = sorted(((s + weight * sec.get(d, 0.0), d, p) for d, p, s in base),
                  key=lambda x: (-x[0], x[1]))[:k]
    want = [(d, p, round(s, 9)) for s, d, p in comb]
    assert got and [g[:2] for g in got] == [w[:2] for w in want]
    assert np.allclose([g[2] for g in got], [w[2] for w in want])


def test_rescore_limit_beyond_window(spark, built):
    # Lucene QueryRescorer with topN < k: only the top-``window`` docs are
    # re-scored and re-sorted among themselves; docs beyond the window keep
    # their BASE scores and base order AFTER the rescored block
    catalog, rows, oracle = built
    eng = SearchEngine(spark, catalog)
    q, rq, window, weight, k = "index query cache", '"get user"', 5, 2.0, 12
    got = _got(advanced.rescore(eng, None, q, rq, window, weight, k))
    base = oracle.search(None, q, limit=k)
    sec = {d: s for d, _, s in oracle.search(None, rq, limit=10 ** 6)}
    head = sorted(((s + weight * sec.get(d, 0.0), d, p)
                   for d, p, s in base[:window]), key=lambda x: (-x[0], x[1]))
    want = ([(d, p, round(s, 9)) for s, d, p in head]
            + [(d, p, round(s, 9)) for d, p, s in base[window:]])[:k]
    assert len(got) == len(want) and [g[:2] for g in got] == [w[:2] for w in want]
    assert np.allclose([g[2] for g in got], [w[2] for w in want])


def test_rescore_negative_weight_rejected(spark, built):
    catalog, rows, oracle = built
    eng = SearchEngine(spark, catalog)
    with pytest.raises(ValueError, match="weight"):
        advanced.rescore(eng, None, "index", '"get user"', weight=-1.0)


def test_tag_name_validation(spark, tmp_path_factory):
    wh = str(tmp_path_factory.mktemp("wh-tagval"))
    catalog = Catalog(wh)
    for bad in ["../escape", "a/b", "", "..", "x\x00y"]:
        with pytest.raises(ValueError):
            catalog.tag(bad)
        with pytest.raises(ValueError):
            catalog.tag_pins(bad)


def test_constant_score(spark, built):
    catalog, rows, oracle = built
    eng = SearchEngine(spark, catalog)
    got = _got(advanced.constant_score(eng, None, "index AND query",
                                       boost=3.5, limit=15))
    match = sorted(d for d, _, _ in oracle.search(None, "index AND query",
                                                  limit=10 ** 6))[:15]
    assert [g[0] for g in got] == match
    assert all(g[2] == 3.5 for g in got)


def test_function_score(spark, built):
    catalog, rows, oracle = built
    eng = SearchEngine(spark, catalog)
    weight, k = 0.25, 10
    got = _got(advanced.function_score(eng, None, "index query",
                                       weight=weight, limit=k))
    full = oracle.search(None, "index query", limit=10 ** 6)
    dl = {d.doc_id: len(d.tokens.get("text", [])) for d in oracle.docs.values()}
    comb = sorted(((s * (1.0 + weight * math.log(1.0 + dl[d])), d, p)
                   for d, p, s in full), key=lambda x: (-x[0], x[1]))[:k]
    want = [(d, p, round(s, 9)) for s, d, p in comb]
    assert [g[:2] for g in got] == [w[:2] for w in want]
    assert np.allclose([g[2] for g in got], [w[2] for w in want])


def test_tfidf_classic(spark, built):
    catalog, rows, oracle = built
    eng = SearchEngine(spark, catalog)
    terms, k = ["index", "query", "cache"], 12
    got = _got(advanced.tfidf_search(eng, None, terms, limit=k))
    n = float(len(oracle.docs))
    scores = {}
    for d in oracle.docs.values():
        toks = [t for t, _ in d.tokens.get("text", [])]
        dl = len(toks)
        s = 0.0
        for t in terms:
            tf = toks.count(t)
            if tf:
                df = oracle._df("text", t)
                idf = 1.0 + math.log(n / (df + 1.0))
                s += math.sqrt(tf) * idf * idf / math.sqrt(dl)
        if s:
            scores[d.doc_id] = (s, d.path)
    want = sorted(((s, d, p) for d, (s, p) in scores.items()),
                  key=lambda x: (-x[0], x[1]))[:k]
    assert [g[0] for g in got] == [d for _, d, _ in want]
    assert np.allclose([g[2] for g in got], [s for s, _, _ in want])
    # warmed engine rides the driver block-cache fast path — identical result
    got_fast = _got(advanced.tfidf_search(
        SearchEngine(spark, catalog).warm(), None, terms, limit=k))
    assert [(g[0], g[1]) for g in got_fast] == [(g[0], g[1]) for g in got]
    assert np.allclose([g[2] for g in got_fast], [g[2] for g in got])


def test_lm_similarities(spark, built):
    # LMDirichletSimilarity(mu) / LMJelinekMercerSimilarity(lambda):
    # p(t|C) = (cttf+1)/(field_tokens+1); dirichlet clamps each per-term
    # contribution at 0, JM is always positive
    catalog, rows, oracle = built
    eng = SearchEngine(spark, catalog)
    terms, k, mu, lam = ["index", "query", "cache"], 12, 500.0, 0.3
    tokens_total = sum(len(d.tokens.get("text", []))
                       for d in oracle.docs.values())
    cttf = {t: sum(1 for d in oracle.docs.values()
                   for tok, _ in d.tokens.get("text", []) if tok == t)
            for t in terms}
    p = {t: (cttf[t] + 1.0) / (tokens_total + 1.0) for t in terms}

    def expect(score_fn):
        scores = {}
        for d in oracle.docs.values():
            toks = [t for t, _ in d.tokens.get("text", [])]
            dl = len(toks)
            s = sum(score_fn(toks.count(t), dl, p[t])
                    for t in terms if t in toks)
            if any(t in toks for t in terms):
                scores[d.doc_id] = (s, d.path)
        return sorted(((s, d, p_) for d, (s, p_) in scores.items()),
                      key=lambda x: (-x[0], x[1]))[:k]

    got = _got(advanced.lm_dirichlet_search(eng, None, terms, mu=mu, limit=k))
    want = expect(lambda tf, dl, pt: max(
        0.0, math.log(1.0 + tf / (mu * pt)) + math.log(mu / (dl + mu))))
    assert [g[0] for g in got] == [d for _, d, _ in want]
    assert np.allclose([g[2] for g in got], [s for s, _, _ in want])

    got = _got(advanced.lm_jm_search(eng, None, terms, lam=lam, limit=k))
    want = expect(lambda tf, dl, pt: math.log(
        1.0 + ((1.0 - lam) * tf / dl) / (lam * pt)))
    assert [g[0] for g in got] == [d for _, d, _ in want]
    assert np.allclose([g[2] for g in got], [s for s, _, _ in want])

    # DFR I(n)L2: tfn = tf*log2(1+c*avgdl/dl), (tfn/(1+tfn))*log2((N+1)/(df+.5))
    c, n = 1.5, float(len(oracle.docs))
    avgdl = tokens_total / n
    df = {t: sum(1 for d in oracle.docs.values()
                 if t in [tok for tok, _ in d.tokens.get("text", [])])
          for t in terms}
    got = _got(advanced.dfr_search(eng, None, terms, c=c, limit=k))

    def dfr_term(tf, dl, t):
        tfn = tf * math.log2(1.0 + c * avgdl / dl)
        return tfn / (1.0 + tfn) * math.log2((n + 1.0) / (df[t] + 0.5))
    scores = {}
    for d in oracle.docs.values():
        toks = [t for t, _ in d.tokens.get("text", [])]
        if any(t in toks for t in terms):
            scores[d.doc_id] = (sum(dfr_term(toks.count(t), len(toks), t)
                                    for t in terms if t in toks), d.path)
    want = sorted(((s, d, p_) for d, (s, p_) in scores.items()),
                  key=lambda x: (-x[0], x[1]))[:k]
    assert [g[0] for g in got] == [d for _, d, _ in want]
    assert np.allclose([g[2] for g in got], [s for s, _, _ in want])

    # IB LL-DF-H2: same tfn, lambda = df/N, score = ln(1 + tfn/lambda)
    got = _got(advanced.ib_search(eng, None, terms, c=c, limit=k))

    def ib_term(tf, dl, t):
        tfn = tf * math.log2(1.0 + c * avgdl / dl)
        return math.log(1.0 + tfn / (df[t] / n))
    scores = {}
    for d in oracle.docs.values():
        toks = [t for t, _ in d.tokens.get("text", [])]
        if any(t in toks for t in terms):
            scores[d.doc_id] = (sum(ib_term(toks.count(t), len(toks), t)
                                    for t in terms if t in toks), d.path)
    want = sorted(((s, d, p_) for d, (s, p_) in scores.items()),
                  key=lambda x: (-x[0], x[1]))[:k]
    assert [g[0] for g in got] == [d for _, d, _ in want]
    assert np.allclose([g[2] for g in got], [s for s, _, _ in want])

    # warmed engine rides the driver block-cache fast path — identical
    weng = SearchEngine(spark, catalog).warm()
    for fn, kw, ref in (
            (advanced.lm_dirichlet_search, {"mu": mu},
             advanced.lm_dirichlet_search(eng, None, terms, mu=mu, limit=k)),
            (advanced.lm_jm_search, {"lam": lam},
             advanced.lm_jm_search(eng, None, terms, lam=lam, limit=k)),
            (advanced.dfr_search, {"c": c},
             advanced.dfr_search(eng, None, terms, c=c, limit=k)),
            (advanced.ib_search, {"c": c},
             advanced.ib_search(eng, None, terms, c=c, limit=k))):
        got_fast = _got(fn(weng, None, terms, limit=k, **kw))
        got_slow = _got(ref)
        assert [(g[0], g[1]) for g in got_fast] == [(g[0], g[1]) for g in got_slow]
        assert np.allclose([g[2] for g in got_fast], [g[2] for g in got_slow])


def test_span_first(spark, built):
    catalog, rows, oracle = built
    eng = SearchEngine(spark, catalog)
    term, end, k = "index", 5, 50
    got = _got(advanced.span_first(eng, None, term, end, limit=k))
    n, avgdl = oracle._field_stats("text")
    dfv = oracle._df("text", term)
    scores = {}
    for d in oracle.docs.values():
        toks = d.tokens.get("text", [])
        tf_first = sum(1 for t, p in toks if t == term and p < end)
        if tf_first:
            scores[d.doc_id] = (float(bm25.score(
                np.array([float(tf_first)]), np.array([float(len(toks))]),
                float(dfv), n, avgdl)[0]), d.path)
    want = sorted(((s, d, p) for d, (s, p) in scores.items()),
                  key=lambda x: (-x[0], x[1]))[:k]
    assert got and [g[0] for g in got] == [d for _, d, _ in want]
    assert np.allclose([g[2] for g in got], [s for s, _, _ in want])
    # every hit must genuinely have an early occurrence; a doc whose only
    # occurrences are late must not match
    late = {d.doc_id for d in oracle.docs.values()
            if any(t == term for t, _ in d.tokens.get("text", []))
            and not any(t == term and p < end
                        for t, p in d.tokens.get("text", []))}
    assert late.isdisjoint({g[0] for g in got})
    # warmed engine rides the driver block-cache fast path — identical result
    got_fast = _got(advanced.span_first(
        SearchEngine(spark, catalog).warm(), None, term, end, limit=k))
    assert [(g[0], g[1]) for g in got_fast] == [(g[0], g[1]) for g in got]
    assert np.allclose([g[2] for g in got_fast], [g[2] for g in got])


def test_sweetspot_similarity(spark, built):
    catalog, rows, oracle = built
    eng = SearchEngine(spark, catalog)
    terms, lo, hi, s, k = ["index", "query"], 80, 120, 0.75, 30
    got = _got(advanced.sweetspot_search(eng, None, terms, ln_min=lo,
                                         ln_max=hi, steepness=s, limit=k))
    n, _avg = oracle._field_stats("text")
    scores = {}
    for d in oracle.docs.values():
        toks = d.tokens.get("text", [])
        dl = float(len(toks))
        norm = 1.0 / math.sqrt(
            s * (abs(dl - lo) + abs(dl - hi) - (hi - lo)) + 1.0)
        sc = 0.0
        for t in terms:
            tf = sum(1 for x, _ in toks if x == t)
            if tf:
                idf = 1.0 + math.log(n / (oracle._df("text", t) + 1.0))
                sc += math.sqrt(tf) * idf * idf * norm
        if sc > 0.0:
            scores[d.doc_id] = (sc, d.path)
    want = sorted(((sc, d, p) for d, (sc, p) in scores.items()),
                  key=lambda x: (-x[0], x[1]))[:k]
    assert got and [g[0] for g in got] == [d for _, d, _ in want]
    assert np.allclose([g[2] for g in got], [sc for sc, _, _ in want])
    # in-band docs take the full classic contribution (norm == 1): a doc
    # inside the sweet spot must outrank its identical-tf twin outside it
    in_band = {d for d, (sc, p) in scores.items()
               if lo <= len(oracle.docs[d].tokens["text"]) <= hi}
    assert in_band, "sweet spot must cover part of the corpus"
    # warmed engine rides the driver block-cache fast path — identical
    got_fast = _got(advanced.sweetspot_search(
        SearchEngine(spark, catalog).warm(), None, terms, ln_min=lo,
        ln_max=hi, steepness=s, limit=k))
    assert [(g[0], g[1]) for g in got_fast] == [(g[0], g[1]) for g in got]
    assert np.allclose([g[2] for g in got_fast], [g[2] for g in got])
    with pytest.raises(ValueError):
        advanced.sweetspot_search(eng, None, terms, ln_min=5, ln_max=4)
    with pytest.raises(ValueError):
        advanced.sweetspot_search(eng, None, terms, steepness=-0.1)


def test_span_position_range(spark, built):
    catalog, rows, oracle = built
    eng = SearchEngine(spark, catalog)
    term, start, end, k = "index", 3, 8, 50
    got = _got(advanced.span_position_range(
        eng, None, term, start, end, limit=k))
    n, avgdl = oracle._field_stats("text")
    dfv = oracle._df("text", term)
    scores = {}
    for d in oracle.docs.values():
        toks = d.tokens.get("text", [])
        tf_in = sum(1 for t, p in toks if t == term and start <= p < end)
        if tf_in:
            scores[d.doc_id] = (float(bm25.score(
                np.array([float(tf_in)]), np.array([float(len(toks))]),
                float(dfv), n, avgdl)[0]), d.path)
    want = sorted(((s, d, p) for d, (s, p) in scores.items()),
                  key=lambda x: (-x[0], x[1]))[:k]
    assert got and [g[0] for g in got] == [d for _, d, _ in want]
    assert np.allclose([g[2] for g in got], [s for s, _, _ in want])
    # a doc whose every occurrence sits outside [start, end) must not match
    outside = {d.doc_id for d in oracle.docs.values()
               if any(t == term for t, _ in d.tokens.get("text", []))
               and not any(t == term and start <= p < end
                           for t, p in d.tokens.get("text", []))}
    assert outside.isdisjoint({g[0] for g in got})
    # SpanFirstQuery is the start=0 special case — exact identity
    a = _got(advanced.span_position_range(eng, None, term, 0, 5, limit=k))
    b = _got(advanced.span_first(eng, None, term, 5, limit=k))
    assert a == b and a
    # warmed engine rides the driver block-cache fast path — identical
    got_fast = _got(advanced.span_position_range(
        SearchEngine(spark, catalog).warm(), None, term, start, end, limit=k))
    assert [(g[0], g[1]) for g in got_fast] == [(g[0], g[1]) for g in got]
    assert np.allclose([g[2] for g in got_fast], [g[2] for g in got])
    # empty window: valid-and-empty like Lucene, not an error (SpanFirst
    # with end=0 reaches this through the facade)
    assert advanced.span_position_range(eng, None, term, 5, 5).count() == 0
    assert advanced.span_first(eng, None, term, 0).count() == 0
    with pytest.raises(ValueError):
        advanced.span_position_range(eng, None, term, -1, 5)


def test_terms_set_query(spark, built):
    catalog, rows, oracle = built
    eng = SearchEngine(spark, catalog)
    terms, boost = ["index", "cache", "zz_no_such_term"], 2.5
    got = _got(advanced.terms_set_query(eng, None, terms, boost=boost,
                                        limit=1_000_000))
    want_ids = sorted(d.doc_id for d in oracle.docs.values()
                      if any(t in ("index", "cache")
                             for t, _ in d.tokens.get("text", [])))
    assert want_ids and [g[0] for g in got] == want_ids
    assert all(g[2] == boost for g in got)
    # a term set far beyond maxClauseCount (mostly absent terms) must
    # produce the identical match set
    huge = terms + [f"zz_absent_{i}" for i in range(1500)]
    got_huge = _got(advanced.terms_set_query(
        eng, None, huge, boost=boost, limit=1_000_000))
    assert got_huge == got
    # the top-k cut is docID order (ConstantScore tie-break)
    got_k = _got(advanced.terms_set_query(eng, None, terms, boost=boost,
                                          limit=5))
    assert [g[0] for g in got_k] == want_ids[:5]
    # warmed engine rides the driver bitset-union fast path — identical
    weng = SearchEngine(spark, catalog).warm()
    got_fast = _got(advanced.terms_set_query(weng, None, terms, boost=boost,
                                             limit=1_000_000))
    assert got_fast == got
    assert [g[0] for g in _got(advanced.terms_set_query(
        weng, None, terms, boost=boost, limit=5))] == want_ids[:5]
    # empty/blank term sets degrade to an empty, correctly-typed frame
    e = advanced.terms_set_query(eng, None, ["", ""], limit=5)
    assert e.count() == 0
    assert e.columns == ["doc_id", "path", "score"]


def test_span_or(spark, built):
    catalog, rows, oracle = built
    eng = SearchEngine(spark, catalog)
    terms, k = ["index", "cache"], 50
    got = _got(advanced.span_or(eng, None, terms, limit=k))
    n, avgdl = oracle._field_stats("text")
    idf_sum = sum(float(bm25.idf(float(oracle._df("text", t)), n))
                  for t in terms if oracle._df("text", t))
    scores = {}
    for d in oracle.docs.values():
        toks = d.tokens.get("text", [])
        freq = sum(1 for t, _ in toks if t in terms)
        if freq:
            scores[d.doc_id] = (idf_sum * float(bm25.tf_norm(
                np.array([float(freq)]), np.array([float(len(toks))]),
                avgdl)[0]), d.path)
    want = sorted(((s, d, p) for d, (s, p) in scores.items()),
                  key=lambda x: (-x[0], x[1]))[:k]
    assert got and [g[0] for g in got] == [d for _, d, _ in want]
    assert np.allclose([g[2] for g in got], [s for s, _, _ in want])
    # warmed engine rides the driver block-cache fast path — identical result
    got_fast = _got(advanced.span_or(
        SearchEngine(spark, catalog).warm(), None, terms, limit=k))
    assert [(g[0], g[1]) for g in got_fast] == [(g[0], g[1]) for g in got]
    assert np.allclose([g[2] for g in got_fast], [g[2] for g in got])


def test_span_not(spark, built):
    catalog, rows, oracle = built
    eng = SearchEngine(spark, catalog)
    inc, exc, pre, post, k = "index", "query", 1, 2, 50
    got = _got(advanced.span_not(eng, None, inc, exc,
                                 pre=pre, post=post, limit=k))
    n, avgdl = oracle._field_stats("text")
    dfv = float(oracle._df("text", inc))
    scores = {}
    excluded_some = False
    for d in oracle.docs.values():
        toks = d.tokens.get("text", [])
        ipos = [p for t, p in toks if t == inc]
        epos = [p for t, p in toks if t == exc]
        surv = [p for p in ipos
                if not any(p - pre <= q <= p + post for q in epos)]
        if len(surv) < len(ipos):
            excluded_some = True
        if surv:
            scores[d.doc_id] = (float(bm25.score(
                np.array([float(len(surv))]), np.array([float(len(toks))]),
                dfv, n, avgdl)[0]), d.path)
    want = sorted(((s, d, p) for d, (s, p) in scores.items()),
                  key=lambda x: (-x[0], x[1]))[:k]
    assert excluded_some  # the window must actually bite on this corpus
    assert got and [g[0] for g in got] == [d for _, d, _ in want]
    assert np.allclose([g[2] for g in got], [s for s, _, _ in want])
    # warmed engine rides the driver block-cache fast path — identical result
    got_fast = _got(advanced.span_not(
        SearchEngine(spark, catalog).warm(), None, inc, exc,
        pre=pre, post=post, limit=k))
    assert [(g[0], g[1]) for g in got_fast] == [(g[0], g[1]) for g in got]
    assert np.allclose([g[2] for g in got_fast], [g[2] for g in got])


def test_span_containing_and_within(spark, built):
    # SpanContainingQuery / SpanWithinQuery analogues: big spans are the
    # ordered (pa, pb) pairs of (big0, big1) within slop (the all-pairs
    # refinement span_near documents); containing counts big spans holding
    # a little occurrence, within counts the contained little occurrences;
    # idf sums over all three terms through one tf-norm
    catalog, rows, oracle = built
    eng = SearchEngine(spark, catalog)
    big, little, slop, k = ("index", "cache"), "query", 6, 50
    got_c = _got(advanced.span_containing(eng, None, big, little,
                                          slop=slop, limit=k))
    got_w = _got(advanced.span_within(eng, None, big, little,
                                      slop=slop, limit=k))
    n, avgdl = oracle._field_stats("text")
    idf_sum = sum(float(bm25.idf(float(oracle._df("text", t)), n))
                  for t in (*big, little))
    sc_c, sc_w = {}, {}
    span_without_little = False
    for d in oracle.docs.values():
        toks = d.tokens.get("text", [])
        ap = [p for t, p in toks if t == big[0]]
        bp = [p for t, p in toks if t == big[1]]
        cp = [p for t, p in toks if t == little]
        spans = [(pa, pb) for pa in ap for pb in bp
                 if pa < pb and pb - pa - 1 <= slop]
        fc = sum(1 for pa, pb in spans if any(pa <= pc <= pb for pc in cp))
        fw = sum(1 for pc in cp if any(pa <= pc <= pb for pa, pb in spans))
        if spans and not fc:
            span_without_little = True
        dl = np.array([float(len(toks))])
        for f, sc in ((fc, sc_c), (fw, sc_w)):
            if f:
                sc[d.doc_id] = (idf_sum * float(bm25.tf_norm(
                    np.array([float(f)]), dl, avgdl)[0]), d.path)
    assert span_without_little  # the containment filter must actually bite
    for got, sc in ((got_c, sc_c), (got_w, sc_w)):
        want = sorted(((s, d, p) for d, (s, p) in sc.items()),
                      key=lambda x: (-x[0], x[1]))[:k]
        assert got and [g[0] for g in got] == [d for _, d, _ in want]
        assert np.allclose([g[2] for g in got], [s for s, _, _ in want])


def test_explain_scores(spark, built):
    catalog, rows, oracle = built
    eng = SearchEngine(spark, catalog)
    terms, k = ["index", "cache"], 5
    out = advanced.explain_scores(eng, None, terms, k=k).collect()
    assert out
    n, avgdl = oracle._field_stats("text")
    toks_by_id = {d.doc_id: [t for t, _ in d.tokens.get("text", [])]
                  for d in oracle.docs.values()}
    # per-row factors match the oracle's statistics exactly
    by_doc: dict[int, float] = {}
    for r in out:
        dfv = float(oracle._df("text", r["term"]))
        assert r["df"] == dfv
        assert math.isclose(r["idf"], float(bm25.idf(dfv, n)), rel_tol=1e-12)
        toks = toks_by_id[r["doc_id"]]
        assert r["tf"] == float(sum(1 for t in toks if t == r["term"]))
        assert math.isclose(
            r["contribution"], r["idf"] * r["tf_norm"], rel_tol=1e-12)
        by_doc[r["doc_id"]] = by_doc.get(r["doc_id"], 0.0) + r["contribution"]
    # contributions sum back to the hit scores of the ordinary search
    hits = {r["doc_id"]: r["score"]
            for r in eng.search(None, " ".join(terms), limit=k).collect()}
    assert set(by_doc) == set(hits)
    for d, s in by_doc.items():
        assert math.isclose(s, hits[d], rel_tol=1e-9)


def test_federated_merge(spark, built, stem_built):
    catalog, rows, oracle = built
    catalog2, rows2 = stem_built
    e1 = SearchEngine(spark, catalog)
    e2 = SearchEngine(spark, catalog2)
    k = 12
    out = advanced.federated_search([("a", e1), ("b", e2)], None,
                                    "index query", limit=k).collect()
    assert len(out) == k
    merged = []
    for name, eng, orc in (("a", e1, oracle),
                           ("b", e2, OracleEngine.from_rows(
                               rows2, analyzer="fold_stem"))):
        merged += [(name, d, p, round(s, 9))
                   for d, p, s in orc.search(None, "index query", limit=k)]
    want = sorted(merged, key=lambda x: (-x[3], x[0], x[1]))[:k]
    got = [(r["index"], r["doc_id"], r["path"], round(r["score"], 9))
           for r in out]
    assert [g[:2] for g in got] == [w[:2] for w in want]


# --------------------------------------------------------------------------
# index-time sort + early-terminated sorted search
# --------------------------------------------------------------------------

def test_index_sort_early_termination(spark, tmp_path_factory):
    wh = str(tmp_path_factory.mktemp("wh-isort"))
    rows = generate_rows(150, seed=13)
    catalog = Catalog(wh)
    IndexBuilder(spark, catalog, docs_per_slice=64,
                 index_sort=["lang"]).build(_src(spark, rows))
    eng = SearchEngine(spark, catalog)
    assert eng.index_sort == ["lang"]
    got = [(r["path"], r["sort_key"]) for r in
           eng.search_sorted(None, "index", "lang", limit=12).collect()]
    # oracle: matches of 'index' ranked (lang, repo, path) — the docID order
    # of the sorted index
    oracle = OracleEngine.from_rows(rows)
    matched = {p for _, p, _ in oracle.search(None, "index", limit=10 ** 6)}
    by_lang = {r["path"]: r["lang"] for r in rows}
    by_repo = {r["path"]: r["repo"] for r in rows}
    want = sorted(((by_lang[p], by_repo[p], p) for p in matched))[:12]
    assert got == [(p, l) for l, _, p in want]
    # the unsorted-engine result must agree (same semantics, slower plan)
    wh2 = str(tmp_path_factory.mktemp("wh-nosort"))
    cat2 = Catalog(wh2)
    IndexBuilder(spark, cat2, docs_per_slice=64).build(_src(spark, rows))
    eng2 = SearchEngine(spark, cat2)
    got2 = [(r["path"], r["sort_key"]) for r in
            eng2.search_sorted(None, "index", "lang", limit=12).collect()]
    # both rank by (lang, tie on own docID); docIDs differ, so compare the
    # multiset of (lang) prefixes and the membership, then the sorted-engine
    # exact order above is the canonical check
    assert sorted(got2) == sorted((p, l) for l, _, p in want) or \
        [l for _, l in got2] == [l for l, _, _ in want]


def test_index_sort_mutation_disables_fast_path(spark, tmp_path_factory):
    wh = str(tmp_path_factory.mktemp("wh-isort2"))
    rows = generate_rows(80, seed=17)
    catalog = Catalog(wh)
    builder = IndexBuilder(spark, catalog, docs_per_slice=64,
                           index_sort=["lang"])
    builder.build(_src(spark, rows))
    mut = IndexMutator(spark, catalog, builder)
    upd = [dict(rows[0], content=rows[0]["content"] + " index index")]
    mut.upsert(_src(spark, upd))
    eng = SearchEngine(spark, catalog)
    # appended docs broke global docID order: the engine must fall back to
    # the exact field sort and still return correct results
    got = [(r["path"], r["sort_key"]) for r in
           eng.search_sorted(None, "index", "lang", limit=10).collect()]
    live = [dict(r) for r in rows]
    live[0] = upd[0]
    oracle = OracleEngine.from_rows(live)
    matched = {p for _, p, _ in oracle.search(None, "index", limit=10 ** 6)}
    by_lang = {r["path"]: r["lang"] for r in live}
    assert got and {p for p, _ in got} <= matched
    # lang sequence must be the true sorted prefix (tie order within a lang
    # depends on internal docIDs, which the upsert renumbered)
    assert [l for _, l in got] == sorted(by_lang[p] for p in matched)[:10]


def test_multi_phrase_cross_product(spark, built):
    # blended=False: the scored-OR rewrite — each variant keeps its own idf
    catalog, rows, oracle = built
    eng = SearchEngine(spark, catalog)
    got = _got(advanced.multi_phrase(
        eng, None, [["get", "parse"], ["user"]], limit=20, blended=False))
    a = {d: s for d, _, s in oracle.search(None, '"get user"', limit=10 ** 6)}
    b = {d: s for d, _, s in oracle.search(None, '"parse user"', limit=10 ** 6)}
    comb = {d: a.get(d, 0.0) + b.get(d, 0.0) for d in set(a) | set(b)}
    paths = {d.doc_id: d.path for d in oracle.docs.values()}
    want = sorted(((s, d, paths[d]) for d, s in comb.items()),
                  key=lambda x: (-x[0], x[1]))[:20]
    assert got and [g[0] for g in got] == [d for _, d, _ in want]
    assert np.allclose([g[2] for g in got], [s for s, _, _ in want])


def test_multi_phrase_blended_lucene_semantics(spark, built):
    # blended=True (default): Lucene MultiPhraseWeight — ONE scorer, tf over
    # slot-UNIONED positions, idf summed over the flattened termArrays
    from lucene_plugin_spark.query import bm25 as B
    catalog, rows, oracle = built
    eng = SearchEngine(spark, catalog)
    slots = [["get", "parse"], ["user"]]
    got = _got(advanced.multi_phrase(eng, None, slots, limit=20))
    n, avgdl = oracle._field_stats("text")
    idf_sum = sum(B.idf(float(oracle._df("text", t)), n)
                  for s in slots for t in s if oracle._df("text", t) > 0)
    comb = {}
    for d in oracle.docs.values():
        toks = d.tokens.get("text", [])
        pos: dict[str, set[int]] = {}
        for t, p in toks:
            pos.setdefault(t, set()).add(p)
        u0 = pos.get("get", set()) | pos.get("parse", set())
        u1 = pos.get("user", set())
        tf = sum(1 for x in u0 if x + 1 in u1)
        if tf:
            dl = len(toks)
            comb[d.doc_id] = (idf_sum * tf * (B.K1 + 1)
                              / (tf + B.K1 * (1 - B.B + B.B * dl / avgdl)))
    paths = {d.doc_id: d.path for d in oracle.docs.values()}
    want = sorted(((s, d, paths[d]) for d, s in comb.items()),
                  key=lambda x: (-x[0], x[1]))[:20]
    assert got and [g[0] for g in got] == [d for _, d, _ in want]
    assert np.allclose([g[2] for g in got], [s for s, _, _ in want])
    # the two scorers genuinely differ (else the rewrite would be blended)
    cross = _got(advanced.multi_phrase(eng, None, slots, limit=20,
                                       blended=False))
    assert [g[2] for g in got] != [c[2] for c in cross]


def test_index_sort_progressive_bound(spark, tmp_path_factory):
    # a term matching ONLY the last-sorted docs forces the doubling loop
    # past its initial docID bound; results must still be the exact sorted
    # top-k (distributed branch: engine not warmed)
    wh = str(tmp_path_factory.mktemp("wh-isort3"))
    rows = generate_rows(3000, seed=23, tokens_per_doc=(10, 20))
    # plant the marker in docs that sort LAST (lang 'zz' > all real langs)
    marked = []
    for i, r in enumerate(rows):
        if i >= 2990:
            r = dict(r, lang="zz", content=r["content"] + " zzrareterm")
        marked.append(r)
    catalog = Catalog(wh)
    IndexBuilder(spark, catalog, docs_per_slice=64,
                 index_sort=["lang"]).build(_src(spark, marked))
    eng = SearchEngine(spark, catalog)
    got = [(r["path"], r["sort_key"]) for r in
           eng.search_sorted(None, "zzrareterm", "lang", limit=5).collect()]
    want_paths = sorted((r["repo"], r["path"]) for r in marked
                        if "zzrareterm" in r["content"])[:5]
    assert [p for p, _ in got] == [p for _, p in want_paths]
    assert all(l == "zz" for _, l in got)


def test_multi_field_single_field_identity(spark, built):
    """MultiFieldQueryParser over one field is exactly the plain search —
    the rewrite adds a pure-SHOULD wrapper that simplify() inlines."""
    catalog, rows, oracle = built
    eng = SearchEngine(spark, catalog)
    for q in ["index query cache", "index AND cache", '"get user"',
              "(index cache) AND query"]:
        a = _got(advanced.multi_field(eng, None, q, ["text"], limit=25))
        b = _got(eng.search(None, q, limit=25))
        assert a == b, q


def test_multi_field_sums_per_field_scores(spark, tmp_path_factory):
    """Bare leaves fan out over the fields and a doc matching in several
    fields sums the per-field BM25 scores (BS2 SHOULD semantics); explicit
    field-qualified leaves keep their field."""
    from lucene_plugin_spark import LuceneFacade
    wh = str(tmp_path_factory.mktemp("wh-mf"))
    fac = LuceneFacade(spark, wh)
    docs = {
        "a": {"title": "spark index merge", "body": "merge scan table"},
        "b": {"title": "table plan", "body": "spark join index cache"},
        "c": {"title": "cache", "body": "spark table cache plan"},
        "d": {"title": "join strategy", "body": "hash join broadcast"},
    }
    for pid, m in docs.items():
        fac.index_map("default", pid, m)
    fac.search("default", "title:spark")  # flush pending docs, build index
    eng = SearchEngine(spark, fac.catalog)
    for q in ["spark", "spark plan", "merge AND table"]:
        got = {r["path"]: r["score"]
               for r in advanced.multi_field(
                   eng, None, q, ["title", "body"], limit=50).collect()}
        # expectation from the already-gated field-qualified search path:
        # rewrite the query by hand into per-field leaves
        parts = q.split(" AND ")
        if len(parts) == 2:
            hand = f"(title:{parts[0]} body:{parts[0]}) AND " \
                   f"(title:{parts[1]} body:{parts[1]})"
        else:
            hand = " ".join(f"(title:{w} body:{w})" for w in q.split())
        want = {r["path"]: r["score"]
                for r in eng.search(None, hand, limit=50).collect()}
        assert set(got) == set(want), q
        for p in got:
            assert math.isclose(got[p], want[p], rel_tol=1e-9), (q, p)
    # per-field boosts scale each field's contribution
    got = {r["path"]: r["score"] for r in advanced.multi_field(
        eng, None, "spark", ["title", "body"],
        boosts={"title": 3.0}, limit=50).collect()}
    want = {r["path"]: r["score"] for r in eng.search(
        None, "title:spark^3 body:spark", limit=50).collect()}
    assert set(got) == set(want)
    for p in got:
        assert math.isclose(got[p], want[p], rel_tol=1e-9), p
    # explicitly qualified leaves are NOT fanned out
    got = _got(advanced.multi_field(eng, None, "title:spark",
                                    ["title", "body"], limit=50))
    want = _got(eng.search(None, "title:spark", limit=50))
    assert got == want


# --------------------------------------------------------------------------
# phrase-prefix (MultiPhraseQuery javadoc use case) + CommonTermsQuery
# --------------------------------------------------------------------------

def test_phrase_prefix_expansion_and_scoring(spark, built):
    # "index ca*": last slot = dictionary terms starting with 'ca' in term
    # order; must equal multi_phrase with the hand-computed expansion
    catalog, rows, oracle = built
    eng = SearchEngine(spark, catalog)
    vocab = sorted({t for d in oracle.docs.values()
                    for t, _ in d.tokens.get("text", [])})
    exp = [t for t in vocab if t.startswith("ca")]
    assert len(exp) >= 1
    got = _got(advanced.phrase_prefix(eng, None, ["index"], "ca", limit=20))
    want = _got(advanced.multi_phrase(eng, None, [["index"], exp], limit=20))
    assert got and got == want


def test_phrase_prefix_max_expansions_cap(spark, built):
    # cap 1: only the FIRST matching dictionary term (term order) survives,
    # i.e. the plain two-term phrase over (anchor, first-expansion)
    catalog, rows, oracle = built
    eng = SearchEngine(spark, catalog)
    vocab = sorted({t for d in oracle.docs.values()
                    for t, _ in d.tokens.get("text", [])})
    exp = [t for t in vocab if t.startswith("s")]
    assert len(exp) >= 2  # the cap must actually cut something
    got = _got(advanced.phrase_prefix(eng, None, ["index"], "s",
                                      limit=20, max_expansions=1))
    want = _got(advanced.multi_phrase(eng, None, [["index"], exp[:1]],
                                      limit=20))
    assert got == want
    # no dictionary match -> empty frame with the hit schema
    empty = advanced.phrase_prefix(eng, None, ["index"], "zzzzqq", limit=5)
    assert empty.count() == 0
    assert [f.name for f in empty.schema.fields] == ["doc_id", "path",
                                                     "score"]


def test_common_terms_low_high_split(spark, built):
    # cutoff at the median df: docs MUST contain a low-df term; high-df
    # terms only add score — Lucene CommonTermsQuery{MUST(low), SHOULD(high)}
    catalog, rows, oracle = built
    eng = SearchEngine(spark, catalog)
    terms = ["index", "query", "cache", "token"]
    n, avgdl = oracle._field_stats("text")
    dfs = {t: float(oracle._df("text", t)) for t in terms}
    cut = sorted(dfs.values())[len(dfs) // 2]  # absolute cutoff (>= 1)
    low = {t for t in terms if dfs[t] <= cut}
    assert low and low != set(terms)  # both groups non-empty
    got = _got(advanced.common_terms(eng, None, terms,
                                     max_term_frequency=cut, limit=50))
    scores = {}
    for d in oracle.docs.values():
        toks = d.tokens.get("text", [])
        dl = float(len(toks))
        tfd = {}
        for t, _ in toks:
            if t in terms:
                tfd[t] = tfd.get(t, 0) + 1
        if not (set(tfd) & low):
            continue
        s = sum(float(bm25.idf(dfs[t], n))
                * float(bm25.tf_norm(np.array([float(c)]),
                                     np.array([dl]), avgdl)[0])
                for t, c in tfd.items())
        scores[d.doc_id] = (s, d.path)
    want = sorted(((s, d, p) for d, (s, p) in scores.items()),
                  key=lambda x: (-x[0], x[1]))[:50]
    assert got and [g[0] for g in got] == [d for _, d, _ in want]
    assert np.allclose([g[2] for g in got], [s for s, _, _ in want])


def test_common_terms_all_high_degrades_to_or(spark, built):
    # empty low group -> plain boolean OR over the terms (Lucene returns the
    # high-frequency BooleanQuery unchanged)
    catalog, rows, oracle = built
    eng = SearchEngine(spark, catalog)
    terms = ["index", "query"]
    got = _got(advanced.common_terms(eng, None, terms,
                                     max_term_frequency=0.5 / N_DOCS,
                                     limit=30))
    want = _got(eng.search(None, "index query", limit=30))
    assert got and got == want


@pytest.mark.parametrize("split,repo", [("mixed", None),
                                        ("all_high", None),
                                        ("mixed", "repo-03")])
def test_common_terms_matches_classic_rewrite(spark, built, split, repo):
    # CommonTermsQuery is the classic query +(low...) high... (or high...
    # alone when no term is rare), on both routes
    catalog, rows, oracle = built
    terms = ["index", "query", "cache", "token"]
    dfs = {t: oracle._df("text", t) for t in terms}
    cut = (sorted(dfs.values())[len(dfs) // 2] if split == "mixed"
           else 0.5 / N_DOCS)
    n = oracle._field_stats("text")[0]
    low = [t for t in terms if dfs[t] <= (cut if cut >= 1 else cut * n)]
    high = [t for t in terms if t not in low]
    q = " ".join(([f"+({' '.join(low)})"] if low else []) + high)
    want = oracle.search(repo, q, limit=50)
    assert want and bool(low) == (split == "mixed")
    warm = SearchEngine(spark, catalog).warm()
    try:
        for eng in (SearchEngine(spark, catalog), warm):
            got = _got(advanced.common_terms(eng, repo, terms,
                                             max_term_frequency=cut,
                                             limit=50))
            assert [g[:2] for g in got] == [w[:2] for w in want], q
            assert np.allclose([g[2] for g in got], [w[2] for w in want])
    finally:
        warm.unwarm()


# --------------------------------------------------------------------------
# BoostingQuery + JoinUtil query-time join
# --------------------------------------------------------------------------

def test_boosting_demotes_never_excludes(spark, built):
    # BoostingQuery: positive matches that also match the negative query are
    # demoted (x0.5) but never dropped; the match set equals the plain search
    catalog, rows, oracle = built
    eng = SearchEngine(spark, catalog)
    pos = oracle.search(None, "index cache", limit=10 ** 6)
    neg = {d for d, _, _ in oracle.search(None, "query", limit=10 ** 6)}
    pos_ids = {d for d, _, _ in pos}
    assert (neg & pos_ids) and (pos_ids - neg)  # both branches exercised
    comb = sorted(((s * (0.5 if d in neg else 1.0), d, p)
                   for d, p, s in pos), key=lambda x: (-x[0], x[1]))[:20]
    got = _got(advanced.boosting(eng, None, "index cache", "query",
                                 negative_boost=0.5, limit=20))
    want = [(d, p, round(s, 9)) for s, d, p in comb]
    assert got and [g[:2] for g in got] == [w[:2] for w in want]
    assert np.allclose([g[2] for g in got], [w[2] for w in want])
    full = advanced.boosting(eng, None, "index cache", "query",
                             negative_boost=0.5, limit=10 ** 6)
    assert full.count() == len(pos)


def test_boosting_rejects_negative_boost():
    with pytest.raises(ValueError):
        advanced.boosting(None, None, "a", "b", negative_boost=-1.0)


def test_join_query_modes(spark, tmp_path_factory):
    # JoinUtil.createJoinQuery: from-docs matching body:spark contribute
    # their 'cat' term; every doc sharing a matched cat scores the
    # ScoreMode aggregation of the from-side scores
    from lucene_plugin_spark import LuceneFacade
    wh = str(tmp_path_factory.mktemp("wh-join"))
    fac = LuceneFacade(spark, wh)
    docs = {
        "a": {"cat": "red", "body": "spark index merge"},
        "b": {"cat": "red", "body": "spark spark table plan"},
        "c": {"cat": "blue", "body": "spark cache"},
        "d": {"cat": "green", "body": "hash join"},
        "e": {"cat": "blue", "body": "broadcast nested loop"},
    }
    for pid, m in docs.items():
        fac.index_map("default", pid, m)
    fac.search("default", "body:spark")  # flush pending docs, build index
    eng = SearchEngine(spark, fac.catalog)
    base = {r["path"]: r["score"]
            for r in eng.search(None, "body:spark", limit=50).collect()}
    assert set(base) == {"a", "b", "c"}
    per_cat = {}
    for p, s in base.items():
        per_cat.setdefault(docs[p]["cat"], []).append(s)
    for mode, agg in (("max", max), ("total", sum),
                      ("avg", lambda v: sum(v) / len(v)),
                      ("none", lambda v: 1.0)):
        got = {r["path"]: r["score"] for r in advanced.join_query(
            eng, None, "body:spark", "cat", score_mode=mode,
            limit=50).collect()}
        want = {p: agg(per_cat[m["cat"]]) for p, m in docs.items()
                if m["cat"] in per_cat}
        assert set(got) == set(want) == {"a", "b", "c", "e"}, mode
        for p in want:
            assert math.isclose(got[p], want[p], rel_tol=1e-9), (mode, p)
    with pytest.raises(ValueError):
        advanced.join_query(eng, None, "body:spark", "cat",
                            score_mode="bogus")


# --------------------------------------------------------------------------
# ComplexPhraseQueryParser analogue
# --------------------------------------------------------------------------

def _lev(a, b):
    # classic Levenshtein DP (unit insert/delete/substitute)
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[-1] + 1,
                           prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


def test_complex_phrase_wildcard_and_fuzzy_slots(spark, built):
    # "in* cache~1": slot 0 expands LIKE 'in%', slot 1 expands to terms
    # within 1 edit of 'cache' — must equal multi_phrase over the
    # hand-computed expansions (term order, capped)
    catalog, rows, oracle = built
    eng = SearchEngine(spark, catalog)
    vocab = sorted({t for d in oracle.docs.values()
                    for t, _ in d.tokens.get("text", [])})
    exp0 = [t for t in vocab if t.startswith("in")][:50]
    exp1 = [t for t in vocab if _lev(t, "cache") <= 1][:50]
    assert exp0 and exp1
    got = _got(advanced.complex_phrase(eng, None, ["in*", "cache~1"],
                                       limit=20))
    want = _got(advanced.multi_phrase(eng, None, [exp0, exp1], limit=20))
    assert got and got == want
    # literal middle slot passes through; pattern-free call == multi_phrase
    got2 = _got(advanced.complex_phrase(eng, None, ["index", "cache~1"],
                                        limit=20))
    want2 = _got(advanced.multi_phrase(eng, None, [["index"], exp1],
                                       limit=20))
    assert got2 == want2
    # dead slot (no dictionary match) -> empty with the hit schema
    empty = advanced.complex_phrase(eng, None, ["index", "zzzqqq*"], limit=5)
    assert empty.count() == 0
    assert [f.name for f in empty.schema.fields] == ["doc_id", "path",
                                                     "score"]


def test_complex_phrase_equals_phrase_prefix_special_case(spark, built):
    # a trailing prefix-wildcard slot IS phrase_prefix
    catalog, rows, oracle = built
    eng = SearchEngine(spark, catalog)
    a = _got(advanced.complex_phrase(eng, None, ["index", "ca*"], limit=20))
    b = _got(advanced.phrase_prefix(eng, None, ["index"], "ca", limit=20))
    assert a and a == b


# --------------------------------------------------------------------------
# route identity of the per-slice operators
# --------------------------------------------------------------------------

ROUTE_REPO = "repo-03"

ROUTE_OPS = {
    "tfidf": lambda e: advanced.tfidf_search(
        e, ROUTE_REPO, ["index", "query", "cache"], limit=40),
    "sweetspot": lambda e: advanced.sweetspot_search(
        e, ROUTE_REPO, ["index", "query"], ln_min=40, ln_max=80, limit=40),
    "lm_dirichlet": lambda e: advanced.lm_dirichlet_search(
        e, ROUTE_REPO, ["index", "query", "cache"], mu=500.0, limit=40),
    "lm_jm": lambda e: advanced.lm_jm_search(
        e, ROUTE_REPO, ["index", "query", "cache"], lam=0.3, limit=40),
    "dfr": lambda e: advanced.dfr_search(
        e, ROUTE_REPO, ["index", "query", "cache"], c=1.5, limit=40),
    "ib": lambda e: advanced.ib_search(
        e, ROUTE_REPO, ["index", "query", "cache"], c=1.5, limit=40),
    "span_first": lambda e: advanced.span_first(
        e, ROUTE_REPO, "index", 8, limit=40),
    "span_range": lambda e: advanced.span_position_range(
        e, ROUTE_REPO, "index", 2, 12, limit=40),
    "terms_set": lambda e: advanced.terms_set_query(
        e, ROUTE_REPO, ["index", "cache", "zz_no_such_term"], boost=2.0,
        limit=40),
    "span_or": lambda e: advanced.span_or(
        e, ROUTE_REPO, ["index", "cache"], limit=40),
    "span_not": lambda e: advanced.span_not(
        e, ROUTE_REPO, "index", "query", pre=1, post=2, limit=40),
    # match-all trees: the MatchAll leaf reads every slice's docs_meta docIDs
    "match_all": lambda e: e.search(ROUTE_REPO, "*:*", limit=40),
    "simple_or_not": lambda e: simple_query_search(
        e, ROUTE_REPO, "index -query", limit=40),
    "simple_not": lambda e: simple_query_search(
        e, ROUTE_REPO, "-query", limit=40),
}


@pytest.fixture(scope="module")
def mutated(spark, tmp_path_factory):
    """A multi-slice index after one upsert and one delete inside
    ROUTE_REPO: tombstones, a second docID generation and a collection
    filter all take part in every route."""
    wh = str(tmp_path_factory.mktemp("wh-route"))
    rows = generate_rows(N_DOCS, seed=29)
    catalog = Catalog(wh)
    builder = IndexBuilder(spark, catalog, docs_per_slice=64)
    builder.build(_src(spark, rows))
    mine = [r for r in rows if r["repo"] == ROUTE_REPO]
    mut = IndexMutator(spark, catalog, builder)
    up = dict(mine[0], content="index query cache index " + mine[0]["content"])
    mut.upsert(_src(spark, [up]))
    gone = next(r for r in mine[1:] if " index" in " " + r["content"])
    mut.delete(gone["repo"], gone["path"])
    warm = SearchEngine(spark, catalog).warm()
    return catalog, warm, {r["path"] for r in mine}, gone["path"]


@pytest.mark.parametrize("op", sorted(ROUTE_OPS))
def test_operator_routes_identical(spark, mutated, monkeypatch, op):
    catalog, warm, repo_paths, gone_path = mutated
    run = ROUTE_OPS[op]
    driver = [(r["doc_id"], r["path"], r["score"]) for r in run(warm).collect()]
    monkeypatch.setattr(SearchEngine, "driver_exec_max_postings", 0)
    dist_warm = [(r["doc_id"], r["path"], r["score"])
                 for r in run(warm).collect()]
    # the distributed route's paths come from its kernel's docs_meta read,
    # with no warmed table behind it on a cold engine
    dist_cold = [(r["doc_id"], r["path"], r["score"])
                 for r in run(SearchEngine(spark, catalog)).collect()]
    monkeypatch.undo()
    cold = [(r["doc_id"], r["path"], r["score"])
            for r in run(SearchEngine(spark, catalog)).collect()]
    assert driver, op
    assert {p for _, p, _ in driver} <= repo_paths - {gone_path}
    for other in (dist_warm, dist_cold, cold):
        assert [g[:2] for g in other] == [g[:2] for g in driver], op
        assert np.allclose([g[2] for g in other], [g[2] for g in driver])


#: one batch of every query shape, collection-scoped and not; "t2"
#: repeats "t" (scored once, fanned out to both query ids)
ROUTE_BATCH = [
    ("t", ROUTE_REPO, "index"),
    ("or", None, "query cache"),
    ("and", ROUTE_REPO, "index AND query"),
    ("phrase", None, '"index query" cache'),
    ("range", ROUTE_REPO, "[ca TO cz]"),
    ("or_not", None, "index -query"),
    ("all", ROUTE_REPO, "*:*"),
    ("all_not", None, "*:* -query"),
    ("t2", ROUTE_REPO, "index"),
]


def test_search_many_routes_identical(spark, mutated, monkeypatch):
    """search_many runs each query on the route a single search takes — the
    driver, the shared distributed job, or both in one batch — and every
    state answers like per-query search() on the warmed engine."""
    from lucene_plugin_spark.query.parser import parse_query
    catalog, warm, _, _ = mutated
    want = {qid: [(r["doc_id"], r["path"], r["score"]) for r in
                  warm.search(repo, q, limit=40).collect()]
            for qid, repo, q in ROUTE_BATCH}
    assert all(want.values())
    est = sorted({warm._compile_query(parse_query(q), repo)["est_postings"]
                  for _, repo, q in ROUTE_BATCH})
    assert len(est) >= 2

    def batch(eng):
        got = {qid: [] for qid, _, _ in ROUTE_BATCH}
        for r in eng.search_many(ROUTE_BATCH, limit=40).collect():
            got[r["query_id"]].append((r["doc_id"], r["path"], r["score"]))
        return got

    states = {"driver": batch(warm),
              "cold": batch(SearchEngine(spark, catalog))}
    monkeypatch.setattr(SearchEngine, "driver_exec_max_postings", 0)
    states["distributed"] = batch(warm)
    states["distributed_cold"] = batch(SearchEngine(spark, catalog))
    # half the batch under the ceiling, half above: both routes at once
    monkeypatch.setattr(SearchEngine, "driver_exec_max_postings",
                        est[len(est) // 2 - 1])
    states["mixed"] = batch(warm)
    monkeypatch.undo()
    for state, got in states.items():
        for qid, hits in want.items():
            assert [g[:2] for g in got[qid]] == [w[:2] for w in hits], \
                (state, qid)
            assert np.allclose([g[2] for g in got[qid]],
                               [w[2] for w in hits]), (state, qid)


def test_index_sort_collection_filter_matches_oracle(spark, tmp_path_factory):
    """On an index_sort index docIDs run in (lang, repo, path) order, so a
    collection's docs are not one contiguous docID run: every repo's hits
    must still be exactly the oracle's."""
    wh = str(tmp_path_factory.mktemp("wh-isort-repo"))
    # generate_rows ties lang to repo (i % 4 vs i % 8): rotate it so every
    # repo spans several sort keys
    langs = ["java", "py", "js", "go"]
    rows = [dict(r, lang=langs[(i // 8) % 4])
            for i, r in enumerate(generate_rows(150, seed=13))]
    catalog = Catalog(wh)
    IndexBuilder(spark, catalog, docs_per_slice=64,
                 index_sort=["lang"]).build(_src(spark, rows))
    oracle = OracleEngine.from_rows(rows)
    for eng in (SearchEngine(spark, catalog),
                SearchEngine(spark, catalog).warm()):
        for repo in sorted({r["repo"] for r in rows}):
            got = {r["path"]: r["score"]
                   for r in eng.search(repo, "index", limit=1000).collect()}
            want = {p: s for _, p, s in oracle.search(repo, "index",
                                                      limit=1000)}
            assert want and set(got) == set(want), repo
            assert all(np.isclose(got[p], want[p], rtol=1e-9) for p in want)
