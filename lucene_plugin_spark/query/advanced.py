"""Advanced scoring surfaces over a built index: two-phase rescoring,
constant-score, function-score (doc-value boosts), ClassicSimilarity
(TF-IDF) ranking and SpanFirst queries.

Lucene analogues (reference reaches all of these through the same
``IndexSearcher`` the plugin wraps, LuceneIndexBean.java:727-735):

- :func:`rescore`        -> ``QueryRescorer.rescore(searcher, topDocs, q, w, n)``
- :func:`constant_score` -> ``ConstantScoreQuery(q)`` (boost per match)
- :func:`function_score` -> ``FunctionScoreQuery`` (boost by doc value)
- :func:`tfidf_search`   -> ``ClassicSimilarity`` ranking (Lucene <=5 default)
- :func:`span_first`     -> ``SpanFirstQuery(SpanTermQuery(t), end)``
- :func:`span_position_range` -> ``SpanPositionRangeQuery(span, start, end)``
- :func:`span_or`        -> ``SpanOrQuery(SpanTermQuery(t), ...)``
- :func:`span_not`       -> ``SpanNotQuery(include, exclude, pre, post)``
- :func:`span_containing`-> ``SpanContainingQuery(big, little)``
- :func:`span_within`    -> ``SpanWithinQuery(big, little)``
- :func:`lm_dirichlet_search` -> ``LMDirichletSimilarity(mu)`` top-k
- :func:`lm_jm_search`   -> ``LMJelinekMercerSimilarity(lambda)`` top-k
- :func:`dfr_search`     -> ``DFRSimilarity(In, L, H2(c))`` top-k
- :func:`ib_search`      -> ``IBSimilarity(LL, DF, H2(c))`` top-k
- :func:`explain_scores` -> ``IndexSearcher.explain(query, doc)`` rows
- :func:`multi_field`    -> ``MultiFieldQueryParser(fields, analyzer, boosts)``
- :func:`phrase_prefix`  -> phrase ending in ``app*`` (MultiPhraseQuery javadoc)
- :func:`common_terms`   -> ``CommonTermsQuery`` (lucene-queries module)
- :func:`federated_search`-> ``MultiReader``-style fan-out, per-index stats

Module-level functions over a :class:`SearchEngine` (the pattern of
``query/results.py``): the engine carries the catalog, snapshot pins and
analyzer.  What runs:

- **Route operators** — :func:`terms_set_query`, :func:`tfidf_search`,
  :func:`sweetspot_search`, the LM / DFR / IB similarities,
  :func:`span_position_range` (and :func:`span_first`), :func:`span_or`
  and :func:`span_not`.  Each is per-query constants computed on the
  driver plus ONE per-slice numpy scoring function, handed to
  ``SearchEngine._search_postings``.  The engine's one route runs that
  function on the driver over the resident block cache (warmed engine,
  small predicted posting volume) or inside one ``mapInPandas`` over the
  term-pruned segments scan, slice by slice; either way it applies
  liveDocs and the collection filter, cuts the (score desc, doc_id asc)
  top-k and joins the paths — the two routes plain queries take.
- **Compositions** — rescore, constant/function score, boosting,
  multi-field and common terms (Lucene's own rewrite to a Boolean query)
  reuse ``search`` / ``search_node``.
- **DataFrame plans** — span containment, explain, multi-phrase and the
  join query are declarative plans over the flat postings view.
"""

from __future__ import annotations

import math

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

import numpy as np

from lucene_plugin_spark.index.builder import flat_postings_view
from lucene_plugin_spark.query import bm25
from lucene_plugin_spark.query.parser import parse_query

#: "everything" limit for paths that legitimately need the full match set
#: (Lucene's field/function collectors also visit every hit)
_ALL = (1 << 31) - 1  # Integer.MAX_VALUE: .limit() takes a Java int

#: a route scorer's "no match in this slice"
_NO_HITS = (np.empty(0, np.int64), np.empty(0, np.float64))


def _empty(engine) -> DataFrame:
    return engine.spark.createDataFrame(
        [], "doc_id long, path string, score double")


def _term_sum(engine, repo: str | None, field: str, ts: list[str],
              limit: int, term_score) -> DataFrame:
    """Top-k of ``Σ_t term_score(t, tf, dl)`` over the docs holding any of
    the terms ``ts`` (``tf``, ``dl``: float64 arrays over the docs holding
    ``t``) — the per-slice kernel shared by the similarity operators, run
    through the engine's one route."""

    def score_slice(idx, norms, dead, doc_ranges, k):
        id_parts, s_parts = [], []
        for t in ts:
            ids, tfs, _ = idx.decoded(field, t, False)
            if ids.size:
                nd, dls = norms[field]
                id_parts.append(ids)
                s_parts.append(term_score(t, tfs.astype(np.float64),
                                          dls[np.searchsorted(nd, ids)]))
        if not id_parts:
            return _NO_HITS
        uids, inv = np.unique(np.concatenate(id_parts), return_inverse=True)
        return uids, np.bincount(inv, weights=np.concatenate(s_parts),
                                 minlength=uids.size)

    return engine._search_postings([(field, t) for t in ts], repo,
                                   score_slice, limit)


def _term_stats(engine, field: str, terms: list[str]):
    """(sorted lower-cased terms, df per term, N, avgdl) of ``field`` — the
    driver-side statistics every route operator starts from — or None when
    no term occurs in ``field`` (nothing can match)."""
    ts = sorted({t.lower() for t in terms})
    dfm = engine._df_for_pairs([(field, t) for t in ts])
    n_docs, avgdl = engine._field_stats().get(field, (0.0, 1.0))
    if n_docs == 0.0 or not any(dfm.values()):
        return None
    return ts, {t: dfm[(field, t)] for t in ts}, n_docs, avgdl


def _h2(tf, dl, c: float, avgdl: float):
    """DFR normalization H2: ``tfn = tf * log2(1 + c * avgdl / dl)``."""
    return tf * np.log2(1.0 + c * avgdl / dl)


def rescore(engine, repo: str | None, query: str, rescore_query: str,
            window: int = 50, weight: float = 2.0, limit: int = 10) -> DataFrame:
    """Two-phase ranking (Lucene ``QueryRescorer`` / ES ``rescore``):
    rank by ``query``; the top ``window`` docs are re-scored as
    ``base + weight * secondary`` where ``secondary`` is the doc's score
    under ``rescore_query`` (0 when it doesn't match) and re-sorted among
    themselves; docs OUTSIDE the window keep their base scores and base
    order AFTER the rescored block (they can never re-enter it) — exactly
    Lucene ``QueryRescorer.rescore`` when ``limit > window``.  ``weight``
    must be >= 0: the window-only cut assumes rescoring never demotes a
    window doc below the tail, which a negative weight would break.

    Scale shape: the window is k-row and broadcast; the secondary query runs
    once through the ordinary engine (its own pruned top-k machinery).  Use
    a selective secondary (phrase / strict AND — the standard proximity
    rescore) so its match set, not the corpus, bounds the extra cost.
    """
    if weight < 0:
        raise ValueError(f"rescore weight must be >= 0, got {weight}")
    from pyspark.sql import Window
    base = engine.search(repo, query, limit=max(window, limit))
    rnode = parse_query(rescore_query, variant=engine.analyzer)
    sec = (engine.search_node(rnode, repo, limit=_ALL)
           .select("doc_id", F.col("score").alias("_sec")))
    rank = F.row_number().over(
        Window.orderBy(F.desc("score"), F.asc("doc_id")))
    combined = (F.col("score") + F.lit(float(weight))
                * F.coalesce(F.col("_sec"), F.lit(0.0)))
    scored = (base.withColumn("_rank", rank)
              .join(sec, "doc_id", "left")
              .select("doc_id", "path", "_rank",
                      F.when(F.col("_rank") <= window, combined)
                      .otherwise(F.col("score")).alias("score")))
    # rescored block first (combined desc, docID asc), base tail after it in
    # unchanged base order; one k-row window sort, never corpus-sized
    in_tail = (F.col("_rank") > window).cast("int")
    sort2 = F.when(F.col("_rank") <= window, -F.col("score")) \
             .otherwise(F.col("_rank").cast("double"))
    return (scored
            .orderBy(F.asc(in_tail), F.asc(sort2), F.asc("doc_id"))
            .limit(limit)
            .select("doc_id", "path", "score"))


def constant_score(engine, repo: str | None, query: str, boost: float = 1.0,
                   limit: int = 255) -> DataFrame:
    """``ConstantScoreQuery``: every match scores exactly ``boost``; ranking
    degenerates to docID order (Lucene's tie-break), so the top-k cut is the
    first ``limit`` matching docIDs.  The match set is computed by the
    ordinary engine; scoring work is skipped conceptually (scores are
    overwritten), which is honest to Lucene — its ConstantScoreWeight still
    iterates the same postings, it just doesn't read norms."""
    node = parse_query(query, variant=engine.analyzer)
    hits = engine.search_node(node, repo, limit=_ALL)
    return (hits.select("doc_id", "path",
                        F.lit(float(boost)).alias("score"))
            .orderBy(F.asc("doc_id")).limit(limit))


def terms_set_query(engine, repo: str | None, terms: list[str],
                    field: str = "text", boost: float = 1.0,
                    limit: int = 255) -> DataFrame:
    """``TermsQuery`` (lucene-queries 5.2): matches docs containing ANY of
    the given terms, as a CONSTANT-SCORE filter — built for term sets far
    beyond ``BooleanQuery.maxClauseCount`` (e.g. thousands of ids), where
    Lucene skips per-term scorers entirely and unions sorted postings into
    a bitset; every match scores ``boost`` and ranking degenerates to docID
    order (the ConstantScore tie-break, same as :func:`constant_score`).

    Scale shape: absent terms drop out against the term dictionary first;
    the per-slice kernel unions the present terms' docID streams (tf
    streams are never decoded) — zero scoring arithmetic, like Lucene's
    bitset union — through the engine's route (module docstring).
    """
    st = _term_stats(engine, field, [t for t in terms if t])
    if st is None:
        return _empty(engine)
    ts, df, _n_docs, _avgdl = st
    present = [(field, t) for t in ts if df[t]]

    def score_slice(idx, norms, dead, doc_ranges, k):
        ids = np.unique(np.concatenate([idx.ids_only(f, t)
                                        for f, t in present]))
        return ids, np.full(ids.shape, float(boost))

    return engine._search_postings(present, repo, score_slice, limit)


def function_score(engine, repo: str | None, query: str, field: str = "text",
                   weight: float = 0.1, limit: int = 10) -> DataFrame:
    """``FunctionScoreQuery``: final = bm25 * (1 + weight * ln(1 + dl)) —
    a document-value boost from the index's own norms (field length), the
    docvalue every Lucene function query can reach without stored fields.

    Needs the FULL match set (a boost can promote any match into the top-k;
    Lucene's function collector visits every hit too).  The doc-length side
    is the skinny ``field_lens`` table — (doc_id, dl) longs, never content —
    and the join is doc_id equi-join, AQE-broadcastable when the match set
    is small."""
    node = parse_query(query, variant=engine.analyzer)
    hits = engine.search_node(node, repo, limit=_ALL)
    lens = (engine._tbl("field_lens")
            .where(F.col("field") == field).select("doc_id", "dl"))
    boost = 1.0 + F.lit(float(weight)) * F.log(F.lit(1.0) + F.col("dl"))
    return (hits.join(lens, "doc_id")
            .select("doc_id", "path", (F.col("score") * boost).alias("score"))
            .orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(limit))


def tfidf_search(engine, repo: str | None, terms: list[str],
                 field: str = "text", limit: int = 10) -> DataFrame:
    """Top-k under Lucene ``ClassicSimilarity`` (the TF-IDF the reference's
    Lucene 5.2.1 actually defaulted to — LuceneIndexBean.java:664-691 never
    calls setSimilarity; our BM25 default follows the north rule, this is
    the fidelity mode):

    ``score(d) = Σ_t sqrt(tf) * (1 + ln(N / (df + 1)))² * (1 / sqrt(dl))``

    (query-norm omitted: it is rank-neutral).  Scale shape: idf per term
    is a driver constant; one per-slice numpy kernel sums the per-term
    contributions, run through the engine's route (module docstring)."""
    st = _term_stats(engine, field, terms)
    if st is None:
        return _empty(engine)
    ts, df, n_docs, _avgdl = st
    idf = {t: 1.0 + math.log(n_docs / (df[t] + 1.0)) for t in ts}
    return _term_sum(engine, repo, field, ts, limit,
                     lambda t, tf, dl: np.sqrt(tf) * idf[t] * idf[t]
                     / np.sqrt(dl))


def sweetspot_search(engine, repo: str | None, terms: list[str],
                     field: str = "text", ln_min: int = 8, ln_max: int = 32,
                     steepness: float = 0.5, limit: int = 10) -> DataFrame:
    """Top-k under ``SweetSpotSimilarity`` (lucene-misc 5.2 — the tunable
    ClassicSimilarity whose length norm is a PLATEAU instead of 1/sqrt(dl):
    docs whose field length falls in the sweet spot ``[ln_min, ln_max]``
    get norm 1.0, lengths outside decay as

        1 / sqrt(steepness * (|dl-min| + |dl-max| - (max-min)) + 1)

    — ``computeLengthNorm``; tf/idf keep the classic shape, so the score
    is ``Σ_t sqrt(tf) * (1 + ln(N/(df+1)))² * plateau(dl)``.  The
    baseline-tf hyperbola is left at its identity defaults, like Lucene's.

    Scale shape: the same one-kernel, two-route shape as
    :func:`tfidf_search`.
    """
    if not (0 < ln_min <= ln_max):
        raise ValueError(f"need 0 < ln_min <= ln_max, got [{ln_min},"
                         f" {ln_max}]")
    if steepness < 0:
        raise ValueError(f"steepness must be >= 0, got {steepness}")
    st = _term_stats(engine, field, terms)
    if st is None:
        return _empty(engine)
    ts, df, n_docs, _avgdl = st
    idf = {t: 1.0 + math.log(n_docs / (df[t] + 1.0)) for t in ts}
    lo, hi, s = float(ln_min), float(ln_max), float(steepness)

    def term_score(t, tf, dl):
        norm = 1.0 / np.sqrt(
            s * (np.abs(dl - lo) + np.abs(dl - hi) - (hi - lo)) + 1.0)
        return np.sqrt(tf) * idf[t] * idf[t] * norm

    return _term_sum(engine, repo, field, ts, limit, term_score)


def _lm_search(engine, repo: str | None, terms: list[str], field: str,
               limit: int, kind: str, mu: float, lam: float) -> DataFrame:
    """Shared core of :func:`lm_dirichlet_search` / :func:`lm_jm_search`
    (lucene-core 5.2 ``LMDirichletSimilarity`` / ``LMJelinekMercerSimilarity``
    — selectable on the same IndexSearcher the reference holds,
    LuceneIndexBean.java:664-691).

    Both language models score against the collection probability
    ``p(t|C) = (totalTermFreq + 1) / (numberOfFieldTokens + 1)``
    (``LMSimilarity.fillBasicStats``), then per matching (doc, term):

    - dirichlet: ``max(0, ln(1 + tf / (mu * p)) + ln(mu / (dl + mu)))``
      (the per-term clamp is Lucene's ``score > 0 ? score : 0``)
    - jelinek-mercer: ``ln(1 + ((1 - λ) * tf / dl) / (λ * p))``

    summed over the query terms.  Scale shape: ``p(t|C)`` per term is a
    driver constant — the collection token count comes from the
    delta-maintained ``stats.sum_dl`` (one cached tiny-table read), never a
    corpus scan — and one per-slice numpy kernel sums the per-term scores
    through the engine's route (module docstring).
    """
    st = _term_stats(engine, field, terms)  # also fills the cf cache
    if st is None:
        return _empty(engine)
    ts = st[0]
    sum_dl = engine._field_sum_dl(field)
    p = {t: (engine._cf_cache.get((field, t), 0.0) + 1.0) / (sum_dl + 1.0)
         for t in ts}

    def term_score(t, tf, dl):
        if kind == "dirichlet":
            return np.maximum(np.log(1.0 + tf / (mu * p[t]))
                              + np.log(mu / (dl + mu)), 0.0)
        return np.log1p(((1.0 - lam) * tf / dl) / (lam * p[t]))

    return _term_sum(engine, repo, field, ts, limit, term_score)


def lm_dirichlet_search(engine, repo: str | None, terms: list[str],
                        field: str = "text", mu: float = 2000.0,
                        limit: int = 10) -> DataFrame:
    """Top-k under ``LMDirichletSimilarity(mu)`` (Lucene 5.2 default
    mu=2000).  Semantics/scale: :func:`_lm_search`."""
    return _lm_search(engine, repo, terms, field, limit, "dirichlet",
                      mu=mu, lam=0.1)


def lm_jm_search(engine, repo: str | None, terms: list[str],
                 field: str = "text", lam: float = 0.1,
                 limit: int = 10) -> DataFrame:
    """Top-k under ``LMJelinekMercerSimilarity(lambda)`` (Lucene 5.2's
    short-query default λ=0.1).  Semantics/scale: :func:`_lm_search`."""
    return _lm_search(engine, repo, terms, field, limit, "jm",
                      mu=2000.0, lam=lam)


def dfr_search(engine, repo: str | None, terms: list[str],
               field: str = "text", c: float = 1.0,
               limit: int = 10) -> DataFrame:
    """Top-k under the DFR ``I(n)L2`` model (Amati & van Rijsbergen's
    divergence-from-randomness framework; Lucene 5.2 exposes it as
    ``DFRSimilarity(BasicModelIn, AfterEffectL, NormalizationH2(c))`` —
    selectable on the same IndexSearcher the reference holds,
    LuceneIndexBean.java:664-691).  Per matching (doc, term):

    - H2 normalization: ``tfn = tf * log2(1 + c * avgdl / dl)``
    - I(n) basic model with the L after-effect:
      ``score = (tfn / (1 + tfn)) * log2((N + 1) / (df + 0.5))``

    summed over the query terms.  Scale shape: the per-term
    ``log2((N + 1) / (df + 0.5))`` is a driver constant; one per-slice
    numpy kernel through the engine's route (module docstring)."""
    st = _term_stats(engine, field, terms)
    if st is None:
        return _empty(engine)
    ts, df, n_docs, avgdl = st
    idf2 = {t: math.log((n_docs + 1.0) / (df[t] + 0.5)) / math.log(2.0)
            for t in ts}

    def term_score(t, tf, dl):
        tfn = _h2(tf, dl, c, avgdl)
        return tfn / (1.0 + tfn) * idf2[t]

    return _term_sum(engine, repo, field, ts, limit, term_score)


def ib_search(engine, repo: str | None, terms: list[str],
              field: str = "text", c: float = 1.0,
              limit: int = 10) -> DataFrame:
    """Top-k under the information-based ``IB LL-DF-H2`` model (Clinchant &
    Gaussier's information-based framework; Lucene 5.2 exposes it as
    ``IBSimilarity(DistributionLL, LambdaDF, NormalizationH2(c))`` —
    selectable on the same IndexSearcher the reference holds,
    LuceneIndexBean.java:664-691).  Per matching (doc, term):

    - H2 normalization: ``tfn = tf * log2(1 + c * avgdl / dl)``
    - log-logistic distribution with the document-frequency lambda
      ``λ = df / N``: ``score = ln((tfn + λ) / λ) = ln(1 + tfn/λ)``

    summed over the query terms.  Scale shape: ``λ`` per term is a driver
    constant; one per-slice numpy kernel through the engine's route, as
    :func:`dfr_search`."""
    st = _term_stats(engine, field, terms)
    if st is None:
        return _empty(engine)
    ts, df, n_docs, avgdl = st
    lam = {t: max(df[t], 0.5) / n_docs for t in ts}
    return _term_sum(engine, repo, field, ts, limit,
                     lambda t, tf, dl: np.log1p(_h2(tf, dl, c, avgdl) / lam[t]))


def span_position_range(engine, repo: str | None, term: str, start: int,
                        end: int, field: str = "text",
                        limit: int = 255) -> DataFrame:
    """``SpanPositionRangeQuery(SpanTermQuery(term), start, end)`` (lucene
    core 5.2 spans): docs where ``term`` occurs at a position ``p`` with
    ``start <= p`` and span end ``p+1 <= end`` — for one-position term
    spans that is ``start <= p < end`` (Lucene positions = post-stop
    ordinals with gaps, identical to ours).  ``SpanFirstQuery`` is the
    ``start=0`` special case and delegates here.  Scoring: BM25 over the
    WITHIN-RANGE occurrence count as tf — the span-scorer shape (freq =
    matching spans) with our BM25 similarity; idf uses the term's ordinary
    docFreq, exactly like Lucene's SpanWeight building termStates from the
    term itself.

    Scale shape: one per-slice numpy kernel counts each doc's in-range
    positions (a segmented ``reduceat``) over the one term's postings,
    positions included, through the engine's route (module docstring).
    """
    if int(start) < 0:
        raise ValueError(f"start must be >= 0, got {start}")
    if int(end) <= int(start):
        # Lucene's SpanPositionRangeQuery with an empty window is
        # valid-and-empty, not an error (and SpanFirstQuery(end=0) relies
        # on it through the facade/HTTP surface)
        return _empty(engine)
    start, end = int(start), int(end)
    st = _term_stats(engine, field, [term])
    if st is None:
        return _empty(engine)
    (t,), df, n_docs, avgdl = st

    def score_slice(idx, norms, dead, doc_ranges, k):
        ids, tfs, pos = idx.decoded(field, t, True)
        if not ids.size or pos is None:
            return _NO_HITS
        in_range = ((pos >= start) & (pos < end)).astype(np.int64)
        # tfs > 0 always, so no reduceat segment is empty
        tf_in = np.add.reduceat(in_range, np.cumsum(tfs) - tfs)
        keep = tf_in > 0
        nd, dls = norms[field]
        ids = ids[keep]
        return ids, bm25.score(tf_in[keep].astype(np.float64),
                               dls[np.searchsorted(nd, ids)], df[t],
                               n_docs, avgdl)

    return engine._search_postings([(field, t)], repo, score_slice, limit,
                                   pos_pairs={(field, t)})


def span_first(engine, repo: str | None, term: str, end: int,
               field: str = "text", limit: int = 255) -> DataFrame:
    """``SpanFirstQuery(SpanTermQuery(term), end)``: Lucene defines it as
    ``SpanPositionRangeQuery`` with ``start=0`` — delegate accordingly."""
    return span_position_range(engine, repo, term, 0, end,
                               field=field, limit=limit)


def span_or(engine, repo: str | None, terms: list[str],
            field: str = "text", limit: int = 255) -> DataFrame:
    """``SpanOrQuery(SpanTermQuery(t), ...)``: a doc matches if ANY clause
    term occurs; the span scorer counts MATCHING SPANS as freq — for term
    spans that is ``Σ_t tf_t(d)`` — and runs ONE similarity built from ALL
    clause terms (Lucene ``SpanWeight.buildSimWeight`` feeds every term's
    statistics, so ``idf = Σ_t idf(t)``).  This is deliberately different
    from boolean OR, which scores each term separately against its own idf
    and sums the per-term scores: span-or blends the frequencies FIRST and
    saturates them through a single tf-norm.

    Scale shape: ``idf_sum`` is a driver constant; one per-slice numpy
    kernel accumulates freq per doc and saturates it once, through the
    engine's route (module docstring).
    """
    st = _term_stats(engine, field, terms)
    if st is None:
        return _empty(engine)
    ts, df, n_docs, avgdl = st
    idf_sum = float(sum(bm25.idf(d, n_docs) for d in df.values() if d > 0.0))

    def score_slice(idx, norms, dead, doc_ranges, k):
        got = [idx.decoded(field, t, False) for t in ts]
        ids = np.concatenate([g[0] for g in got])
        if not ids.size:
            return _NO_HITS
        uids, inv = np.unique(ids, return_inverse=True)
        freq = np.bincount(inv, weights=np.concatenate(
            [g[1] for g in got]).astype(np.float64), minlength=uids.size)
        nd, dls = norms[field]
        return uids, idf_sum * bm25.tf_norm(
            freq, dls[np.searchsorted(nd, uids)], avgdl)

    return engine._search_postings([(field, t) for t in ts], repo,
                                   score_slice, limit)


def span_not(engine, repo: str | None, include: str, exclude: str,
             pre: int = 0, post: int = 0, field: str = "text",
             limit: int = 255) -> DataFrame:
    """``SpanNotQuery(SpanTermQuery(include), SpanTermQuery(exclude), pre,
    post)``: spans of ``include`` that have NO ``exclude`` occurrence within
    ``pre`` positions before or ``post`` after.  For term spans an include
    position ``p`` survives iff no exclude position ``q`` satisfies
    ``p - pre <= q <= p + post`` (``pre = post = 0`` -> same-position
    collision only, impossible for distinct single-token terms — callers
    pass the exclusion window they mean).  freq = surviving-span count,
    scored through BM25 with the INCLUDE term's ordinary docFreq (only
    include spans are scored; the exclusion is a positional filter).

    Scale shape: one per-slice numpy kernel over both terms' postings,
    positions included: combined (docID, position) keys make the window
    test two ``searchsorted`` probes over the sorted exclude keys.  It runs
    through the engine's route (module docstring).
    """
    inc, exc = include.lower(), exclude.lower()
    pre, post = int(pre), int(post)
    st = _term_stats(engine, field, [inc])
    if st is None:
        return _empty(engine)
    _, df, n_docs, avgdl = st
    idf_inc = float(bm25.idf(df[inc], n_docs))

    def score_slice(idx, norms, dead, doc_ranges, k):
        ids_i, tfs_i, pos_i = idx.decoded(field, inc, True)
        if not ids_i.size or pos_i is None:
            return _NO_HITS
        ids_e, tfs_e, pos_e = idx.decoded(field, exc, True)
        survive = np.ones(pos_i.size, dtype=np.int64)
        if ids_e.size and pos_e is not None and pos_e.size:
            # key stride past every position plus the window: a shifted
            # key never reaches a neighbouring doc's keys
            m = int(max(pos_i.max(), pos_e.max())) + max(pre, post) + 2
            ik = np.repeat(ids_i, tfs_i).astype(np.int64) * m + pos_i
            ek = np.sort(np.repeat(ids_e, tfs_e).astype(np.int64) * m + pos_e)
            survive = (np.searchsorted(ek, ik - pre, side="left")
                       == np.searchsorted(ek, ik + post, side="right")
                       ).astype(np.int64)
        tf_surv = np.add.reduceat(survive, np.cumsum(tfs_i) - tfs_i)
        keep = tf_surv > 0
        nd, dls = norms[field]
        ids = ids_i[keep]
        return ids, idf_inc * bm25.tf_norm(
            tf_surv[keep].astype(np.float64), dls[np.searchsorted(nd, ids)],
            avgdl)

    pairs = {(field, inc), (field, exc)}
    return engine._search_postings(pairs, repo, score_slice, limit,
                                   pos_pairs=pairs)


def _span_contain(engine, repo: str | None, big: tuple[str, str],
                  little: str, slop: int, field: str, limit: int,
                  within: bool) -> DataFrame:
    """Shared core of :func:`span_containing` / :func:`span_within`
    (``SpanContainingQuery`` / ``SpanWithinQuery``, lucene-core 5.2:
    LuceneIndexBean.java:727-735 reaches them through the same searcher).

    ``big`` spans are the ordered pairs ``(pa, pb)`` of the two big terms
    with ``pa < pb`` and ``pb - pa - 1 <= slop`` — the all-pairs refinement
    of NearSpansOrdered's lazy enumeration, the same documented deviation as
    :meth:`SearchEngine.span_near`.  A ``little`` occurrence ``pc`` is
    contained when ``pa <= pc <= pb`` (span-interval containment
    ``[pc, pc+1) ⊆ [pa, pb+1)``; for distinct terms the endpoints can never
    collide, so this equals strict betweenness).

    - containing: freq = big spans holding >= 1 little occurrence
    - within:     freq = little occurrences inside >= 1 big span

    Lucene's ``SpanContainQuery.SpanContainWeight`` builds its similarity
    from BOTH clauses' term contexts, so ``idf = Σ idf(t)`` over all three
    terms, saturated through ONE tf-norm (the span-family blending rule
    :func:`span_or` documents).

    Scale shape: all three posting lists arrive term-pruned from the
    segments scan (``In(term, ...)`` pushed); the doc_id inner joins keep
    only docs holding all three terms BEFORE any position work; the span
    arithmetic is nested higher-order array functions in whole-stage
    codegen — no Python, no shuffle beyond the doc_id joins, and the final
    top-k is a broadcast path join.  Cost is O(the three terms' postings),
    independent of corpus size.
    """
    a, b = big[0].lower(), big[1].lower()
    c = little.lower()
    dfm = engine._df_for_pairs([(field, a), (field, b), (field, c)])
    stats = engine._field_stats()
    n_docs, avgdl = stats.get(field, (0.0, 1.0))
    if n_docs == 0.0 or any(dfm.get((field, t), 0.0) == 0.0
                            for t in (a, b, c)):
        return _empty(engine)
    idf_sum = float(sum(bm25.idf(v, n_docs) for v in dfm.values()))
    flat = (flat_postings_view(engine.spark, engine.catalog,
                               terms=sorted({a, b, c}))
            .where(F.col("field") == field))
    a_df = (flat.where(F.col("term") == a)
            .select("doc_id", "dl", F.col("positions").alias("ap")))
    b_df = (flat.where(F.col("term") == b)
            .select("doc_id", F.col("positions").alias("bp")))
    c_df = (flat.where(F.col("term") == c)
            .select("doc_id", F.col("positions").alias("cp")))
    j = a_df.join(b_df, "doc_id").join(c_df, "doc_id")
    slop_l = F.lit(int(slop))
    if within:
        freq = F.size(F.filter("cp", lambda pc: F.exists(
            "ap", lambda pa: (pa <= pc) & F.exists(
                "bp", lambda pb: (pb >= pc) & (pb > pa)
                                 & (pb - pa - 1 <= slop_l)))))
    else:
        freq = F.aggregate(
            "ap", F.lit(0),
            lambda acc, pa: acc + F.size(F.filter(
                "bp", lambda pb: (pb > pa) & (pb - pa - 1 <= slop_l)
                                 & F.exists(
                    "cp", lambda pc: (pc >= pa) & (pc <= pb)))))
    tfc = freq.cast("double")
    tfn = (tfc * (bm25.K1 + 1.0)
           / (tfc + bm25.K1 * (1.0 - bm25.B
                               + bm25.B * F.col("dl") / F.lit(avgdl))))
    agg = (j.where(freq > 0)
           .select("doc_id", (F.lit(idf_sum) * tfn).alias("score")))
    agg = engine._finalize_df_hits(agg, repo)
    meta = engine._meta_path_df()
    topk = agg.orderBy(F.desc("score"), F.asc("doc_id")).limit(limit)
    return (meta.join(F.broadcast(topk), "doc_id")
            .orderBy(F.desc("score"), F.asc("doc_id"))
            .select("doc_id", "path", "score"))


def span_containing(engine, repo: str | None, big: tuple[str, str],
                    little: str, slop: int = 2, field: str = "text",
                    limit: int = 255) -> DataFrame:
    """``SpanContainingQuery(SpanNearQuery([big0, big1], slop, ordered),
    SpanTermQuery(little))``: big spans that contain a little occurrence;
    freq = the containing big spans.  Semantics/scale: :func:`_span_contain`."""
    return _span_contain(engine, repo, big, little, slop, field, limit,
                         within=False)


def span_within(engine, repo: str | None, big: tuple[str, str],
                little: str, slop: int = 2, field: str = "text",
                limit: int = 255) -> DataFrame:
    """``SpanWithinQuery(big, SpanTermQuery(little))``: little occurrences
    contained in a big span; freq = the contained little occurrences.
    Semantics/scale: :func:`_span_contain`."""
    return _span_contain(engine, repo, big, little, slop, field, limit,
                         within=True)


def explain_scores(engine, repo: str | None, terms: list[str],
                   field: str = "text", k: int = 3) -> DataFrame:
    """``IndexSearcher.explain(query, doc)`` analogue for a boolean-OR
    query: the per-(doc, term) score breakdown — tf, docFreq, idf, the
    length-normalized tf factor, and the term's score contribution — for
    each of the query's top-``k`` documents.  Lucene renders this as a
    nested Explanation tree; rows of (doc, term, factors) carry the same
    information in relational form, and ``sum(contribution) group by doc``
    reproduces the hit score exactly.

    Scale shape: the top-k docs come from the ordinary pruned search; the
    breakdown then touches only ``k × |terms|`` postings rows — the flat
    view is term-filtered at the parquet scan and doc-filtered by a
    broadcast of the k winners, so explain cost is independent of corpus
    size (Lucene's explain also re-scores one doc at a time).
    """
    ts = sorted({t.lower() for t in terms})
    stats = engine._field_stats()
    n_docs, avgdl = stats.get(field, (0.0, 1.0))
    if n_docs == 0.0:
        return engine.spark.createDataFrame(
            [], "doc_id long, path string, term string, tf double, "
                "df double, idf double, tf_norm double, contribution double")
    hits = engine.search(repo, " ".join(ts), limit=k)
    topk = hits.select("doc_id", "path")
    dfm = engine._df_for_pairs([(field, t) for t in ts])
    td = engine.spark.createDataFrame(
        [(t, float(dfm.get((field, t), 0.0)),
          float(bm25.idf(dfm.get((field, t), 0.0), n_docs)))
         for t in ts if dfm.get((field, t), 0.0) > 0.0],
        "term string, df double, idf double")
    flat = (flat_postings_view(engine.spark, engine.catalog, terms=ts)
            .where(F.col("field") == field))
    tfc = F.col("tf").cast("double")
    tfn = (tfc * (bm25.K1 + 1.0)
           / (tfc + bm25.K1 * (1.0 - bm25.B
                               + bm25.B * F.col("dl") / F.lit(avgdl))))
    return (flat.join(F.broadcast(topk), "doc_id")
            .join(F.broadcast(td), "term")
            .select("doc_id", "path", "term", tfc.alias("tf"), "df", "idf",
                    tfn.alias("tf_norm"),
                    (F.col("idf") * tfn).alias("contribution"))
            .orderBy("doc_id", "term"))


def multi_phrase(engine, repo: str | None, slots: list[list[str]],
                 field: str = "text", slop: int = 0,
                 limit: int = 255, blended: bool = True) -> DataFrame:
    """``MultiPhraseQuery`` analogue: a phrase where each position admits
    several terms — ``[["table", "query"], ["hash"]]`` matches
    ``"table hash"`` OR ``"query hash"``.

    ``blended=True`` (default, round-4): exact Lucene ``MultiPhraseWeight``
    semantics — ONE scorer over slot-UNIONED position lists.
    ``tf(doc)`` counts anchor positions where every slot matches one of its
    alternatives (with slop, the engine's anchor-displacement weighting
    over the unioned arrays); ``idf`` sums over the flattened termArrays —
    every alternative of every slot (Lucene MultiPhraseQuery.getTermArrays
    flattening).  Under a one-term-per-position analyzer the slot unions
    are disjoint, so the union tf equals the sum of per-variant phrase tfs
    — which keeps the measure SQL-expressible for the DuckDB oracle.

    ``blended=False``: the round-3 rewrite — a scored OR over the cross
    product of per-slot choices; a doc's score is the SUM of each matching
    variant's OWN phrase BM25 (each variant keeps its own idf; documented
    deviation, kept for comparison and for the compiled-kernel path).

    Scale shape (blended): the flat-postings view is term-filtered BEFORE
    block decode (predicate pushed to the term-sorted parquet row groups),
    per-slot unions are doc_id-keyed aggs over ≤|alternatives| arrays, the
    alignment runs in whole-stage codegen via higher-order array functions
    (no Python), and only the top-k joins the path map."""
    slots_l = [[t.lower() for t in s] for s in slots]
    if not blended:
        from itertools import product

        from lucene_plugin_spark.query.plan import Bool, Phrase
        variants = []
        for combo in product(*slots_l):
            variants.append(Phrase(field=field, terms=tuple(combo),
                                   offsets=tuple(range(len(combo))),
                                   slop=int(slop)))
        return engine.search_node(Bool(should=tuple(variants)), repo, limit)

    stats = engine._field_stats()
    n, avgdl = stats.get(field, (0.0, 1.0))
    all_terms = sorted({t for s in slots_l for t in s})
    dfm = engine._df_for_pairs([(field, t) for t in all_terms])
    # flattened-termArrays idf: every alternative of every slot contributes
    # (absent terms have df 0 -> contribute 0, matching an empty posting)
    idf_sum = float(sum(bm25.idf(dfm.get((field, t), 0.0), n)
                        for s in slots_l for t in s
                        if dfm.get((field, t), 0.0) > 0.0))
    if n == 0.0 or idf_sum == 0.0:
        return _empty(engine)
    flat = (flat_postings_view(engine.spark, engine.catalog, terms=all_terms)
            .where(F.col("field") == field))
    j = None
    for k, alts in enumerate(slots_l):
        # slot union: one token per position -> alternatives' position
        # arrays are disjoint per doc; flatten(collect_list) IS the union
        part = (flat.where(F.col("term").isin(sorted(set(alts))))
                .groupBy("doc_id")
                .agg(F.flatten(F.collect_list("positions")).alias(f"p{k}")))
        j = part if j is None else j.join(part, "doc_id")
    nslots = len(slots_l)
    ex = j.select("doc_id", F.explode("p0").alias("x"),
                  *[F.col(f"p{k}") for k in range(1, nslots)])
    if slop:
        def _absdiff(dd):
            return lambda v: F.abs(v - (F.col("x") + F.lit(dd)))

        disp = F.lit(0.0)
        for k in range(1, nslots):
            disp = disp + F.array_min(F.transform(
                F.col(f"p{k}"), _absdiff(k))).cast("double")
        keep = (ex.withColumn("_disp", disp)
                .where(F.col("_disp") <= float(slop)))
        tf = keep.groupBy("doc_id").agg(
            F.sum(1.0 / (1.0 + F.col("_disp"))).alias("tf"))
    else:
        keep = ex
        for k in range(1, nslots):
            keep = keep.where(F.array_contains(F.col(f"p{k}"),
                                               F.col("x") + F.lit(k)))
        tf = keep.groupBy("doc_id").agg(
            F.count(F.lit(1)).cast("double").alias("tf"))
    lens = (engine._tbl("field_lens").where(F.col("field") == field)
            .select("doc_id", "dl"))
    tfn = (F.col("tf") * (bm25.K1 + 1.0)
           / (F.col("tf") + bm25.K1 * (1.0 - bm25.B
                                       + bm25.B * F.col("dl") / F.lit(avgdl))))
    agg = (tf.join(lens, "doc_id")
           .select("doc_id", (F.lit(idf_sum) * tfn).alias("score")))
    agg = engine._finalize_df_hits(agg, repo)
    meta = engine._meta_path_df()
    topk = agg.orderBy(F.desc("score"), F.asc("doc_id")).limit(limit)
    return (meta.join(F.broadcast(topk), "doc_id")
            .orderBy(F.desc("score"), F.asc("doc_id"))
            .select("doc_id", "path", "score"))


def phrase_prefix(engine, repo: str | None, terms: list[str], prefix: str,
                  field: str = "text", slop: int = 0, limit: int = 255,
                  max_expansions: int = 50) -> DataFrame:
    """Phrase-prefix query — the use case ``MultiPhraseQuery``'s own javadoc
    names (a phrase ending in ``app*``), ``match_phrase_prefix`` in the
    wider Lucene ecosystem: a phrase whose LAST position admits every
    dictionary term starting with ``prefix``.  The prefix expands against
    the term dictionary in TERM ORDER capped at ``max_expansions``
    (the ecosystem default 50), then scores through the blended
    MultiPhraseQuery analogue (:func:`multi_phrase`): ONE scorer, tf over
    the slot-unioned position lists, idf summed over the literal terms plus
    the expansion set (flattened termArrays).

    Scale shape: the expansion is a sargable ``startswith`` range on the
    term-sorted dictionary (parquet range pruning, never a vocabulary
    scan), bounded at ``max_expansions`` terms; execution inherits
    multi_phrase's shape — term-pruned postings scan, JVM array alignment
    in whole-stage codegen, broadcast top-k path join."""
    from lucene_plugin_spark.query.plan import Wildcard
    w = Wildcard(field=field, pattern=prefix.lower() + "*")
    exp = engine._expand_ranges([w])[w][:max_expansions]
    if not exp:
        return _empty(engine)
    slots = [[t] for t in terms] + [exp]
    return multi_phrase(engine, repo, slots, field=field, slop=slop,
                        limit=limit)


def complex_phrase(engine, repo: str | None, slots: list[str],
                   field: str = "text", slop: int = 0, limit: int = 255,
                   max_expansions: int = 50) -> DataFrame:
    """``ComplexPhraseQueryParser`` analogue (lucene queryparser module,
    5.2): a phrase where ANY position — not just the last, which is
    :func:`phrase_prefix`'s special case — may be a wildcard (``para*``,
    ``f?x``) or fuzzy (``cache~``, ``cache~1``) pattern.  Each pattern slot
    expands against the term dictionary in TERM ORDER capped at
    ``max_expansions``; literal slots pass through; execution and scoring
    are the blended :func:`multi_phrase` (one scorer, slot-unioned
    positions, idf over the flattened termArrays).

    Scale shape: expansion reuses the engine's MultiTermQuery machinery —
    prefix wildcards are sargable dictionary range scans, infix wildcards
    and ≤2-edit fuzzies route through the ``spell_grams`` sidecar when no
    resident dictionary exists (cost bounded by the query grams' postings,
    never the vocabulary); all pattern slots expand in ONE batched call.
    Execution inherits multi_phrase's term-pruned postings scan."""
    import re as _re

    from lucene_plugin_spark.query.plan import Fuzzy, Wildcard
    parsed: list[object] = []
    for s in slots:
        s = s.lower()
        m = _re.fullmatch(r"([^*?~]+)~([0-2])?", s)
        if m:
            parsed.append(Fuzzy(field=field, term=m.group(1),
                                max_edits=int(m.group(2) or 2)))
        elif "*" in s or "?" in s:
            parsed.append(Wildcard(field=field, pattern=s))
        else:
            parsed.append(s)
    leaves = [p for p in parsed if not isinstance(p, str)]
    exp = engine._expand_ranges(leaves) if leaves else {}
    out_slots: list[list[str]] = []
    for p in parsed:
        if isinstance(p, str):
            out_slots.append([p])
        else:
            terms = exp[p][:max_expansions]
            if not terms:  # a dead slot kills the whole phrase
                return _empty(engine)
            out_slots.append(terms)
    return multi_phrase(engine, repo, out_slots, field=field, slop=slop,
                        limit=limit)


def common_terms(engine, repo: str | None, terms: list[str],
                 field: str = "text", max_term_frequency: float = 0.01,
                 limit: int = 255) -> DataFrame:
    """``CommonTermsQuery`` (lucene-queries module, present in the
    reference's Lucene 5.2.1): split the query terms into LOW-frequency
    (df <= ``max_term_frequency``, absolute when >= 1 else a fraction of
    the doc count — Lucene's ``maxTermFrequency``) and HIGH-frequency
    groups.  Docs MUST match at least one low-frequency term; high-
    frequency terms only ADD score on docs already selected — Lucene's
    rewrite ``BooleanQuery{ MUST(lowFreq-OR), SHOULD(highFreq-OR) }``, the
    stopword-free way to keep "the"-like terms from selecting the whole
    corpus.  When every term is high-frequency the query degrades to the
    plain OR over them, exactly like Lucene with an empty low group.
    Scored by :meth:`SearchEngine.search_node` as that Boolean query:
    ordinary BM25 per term, summed; the split is a driver-side df lookup
    from the cached stats."""
    from lucene_plugin_spark.query.plan import Bool, Term
    ts = sorted({t.lower() for t in terms})
    n_docs, _ = engine._field_stats().get(field, (0.0, 1.0))
    dfm = engine._df_for_pairs([(field, t) for t in ts])
    present = [t for t in ts if dfm.get((field, t), 0.0) > 0.0]
    if n_docs == 0.0 or not present:
        return _empty(engine)
    cut = (float(max_term_frequency) if max_term_frequency >= 1.0
           else float(max_term_frequency) * n_docs)
    low = tuple(Term(field, t) for t in present if dfm[(field, t)] <= cut)
    high = tuple(Term(field, t) for t in present if dfm[(field, t)] > cut)
    node = (Bool(must=(Bool(should=low),),
                 should=(Bool(should=high),) if high else ())
            if low else Bool(should=high))
    return engine.search_node(node, repo, limit)


def boosting(engine, repo: str | None, query: str, negative_query: str,
             negative_boost: float = 0.2, limit: int = 255) -> DataFrame:
    """``BoostingQuery`` (lucene-queries module, present in the reference's
    Lucene 5.2.1): match exactly the docs ``query`` matches, but DEMOTE any
    match that also matches ``negative_query`` by multiplying its score by
    ``negative_boost`` (< 1).  The negative query never selects or rejects
    documents — it only reorders, the classic "downweight but don't exclude"
    tool (vs ``-term`` which drops the doc entirely).

    Needs the FULL positive match set (a demotion anywhere can promote any
    other match into the top-k — same contract as :func:`function_score`,
    and Lucene's BoostingQuery scorer also visits every positive hit).  The
    negative side contributes only a docID set; its scores are discarded,
    so a selective negative query bounds the extra cost.

    Scale shape: two ordinary pruned searches + one doc_id equi-join
    (AQE-broadcastable when the negative match set is small), demotion
    arithmetic in whole-stage codegen, one top-k sort."""
    if negative_boost < 0:
        raise ValueError(
            f"negative_boost must be >= 0, got {negative_boost}")
    pos = engine.search_node(
        parse_query(query, variant=engine.analyzer), repo, limit=_ALL)
    neg = (engine.search_node(
               parse_query(negative_query, variant=engine.analyzer),
               repo, limit=_ALL)
           .select("doc_id", F.lit(True).alias("_neg")))
    demoted = F.when(F.col("_neg"),
                     F.col("score") * F.lit(float(negative_boost))) \
               .otherwise(F.col("score"))
    return (pos.join(neg, "doc_id", "left")
            .select("doc_id", "path", demoted.alias("score"))
            .orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(limit))


def join_query(engine, repo: str | None, from_query: str, from_field: str,
               to_field: str | None = None, score_mode: str = "max",
               limit: int = 255) -> DataFrame:
    """``JoinUtil.createJoinQuery`` (lucene-join module, 5.2): query-time
    join inside one index.  Docs matching ``from_query`` contribute their
    ``from_field`` terms; every doc whose ``to_field`` contains one of
    those terms matches.  Per join term, the from-side scores aggregate by
    ``score_mode`` (Lucene's ``ScoreMode``): ``max`` / ``total`` (sum) /
    ``avg`` / ``none`` (constant 1).  A to-doc matching several join terms
    takes the MAX of their term scores — Lucene leaves that multi-term case
    explicitly unspecified ("an arbitrary one"), so we pin the
    deterministic refinement that equals Lucene whenever a to-doc matches
    one join term (the common single-valued-field case).

    Scale shape: the from side is one ordinary pruned search joined to the
    field-pruned postings scan on doc_id (never a collect — the join-term
    set stays distributed); per-term aggregation is one map-side-combined
    groupBy; the to side is the field-pruned postings scan equi-joined on
    term (broadcast when the term set is small, AQE decides); one more
    groupBy(doc_id) for the multi-term max.  Total: two field-pruned scans
    + two key-bounded shuffles, no corpus-wide pass."""
    mode = score_mode.lower()
    if mode not in ("max", "total", "sum", "avg", "none"):
        raise ValueError(f"unknown score_mode: {score_mode!r}")
    to_field = to_field or from_field
    from_hits = (engine.search_node(
                     parse_query(from_query, variant=engine.analyzer),
                     repo, limit=_ALL)
                 .select("doc_id", "score"))
    from_terms = (flat_postings_view(engine.spark, engine.catalog,
                                     fields=[from_field])
                  .select("doc_id", "term")
                  .join(from_hits, "doc_id"))
    if mode == "none":
        term_scores = (from_terms.select("term").distinct()
                       .withColumn("_ts", F.lit(1.0)))
    else:
        agg_fn = {"max": F.max, "total": F.sum, "sum": F.sum,
                  "avg": F.avg}[mode]
        term_scores = (from_terms.groupBy("term")
                       .agg(agg_fn("score").alias("_ts")))
    to_post = (flat_postings_view(engine.spark, engine.catalog,
                                  fields=[to_field])
               .select("doc_id", "term"))
    agg = (to_post.join(term_scores, "term")
           .groupBy("doc_id").agg(F.max("_ts").alias("score")))
    agg = engine._finalize_df_hits(agg, repo)
    meta = engine._meta_path_df()
    topk = agg.orderBy(F.desc("score"), F.asc("doc_id")).limit(limit)
    return (meta.join(F.broadcast(topk), "doc_id")
            .orderBy(F.desc("score"), F.asc("doc_id"))
            .select("doc_id", "path", "score"))


def multi_field(engine, repo: str | None, query: str, fields: list[str],
                boosts: dict[str, float] | None = None,
                limit: int = 255) -> DataFrame:
    """``MultiFieldQueryParser`` analogue: parse ``query`` with the classic
    grammar, then rewrite every leaf still on the DEFAULT field into a
    SHOULD-disjunction of the same leaf over ``fields`` (per-field boost
    from ``boosts``, default 1.0) — exactly
    ``MultiFieldQueryParser(fields, analyzer, boosts)``, where each clause
    becomes a BooleanQuery over the fields.  Explicitly field-qualified
    leaves (``lang:en``) keep their field, like Lucene.

    Scale shape: the rewrite is a driver-side tree transform; execution is
    the ordinary :meth:`SearchEngine.search_node` — each per-field Term
    scores against its own field statistics (Lucene's per-field
    Similarity), the postings scan's term/field predicates stay pushed.
    """
    node = rewrite_multi_field(parse_query(query, variant=engine.analyzer),
                               fields, boosts)
    return engine.search_node(node, repo, limit)


def rewrite_multi_field(node, fields: list[str],
                        boosts: dict[str, float] | None = None):
    """The ``MultiFieldQueryParser`` leaf rewrite as a standalone tree
    transform (shared with the SimpleQueryParser's ``weights`` map): every
    leaf still on the DEFAULT field becomes a SHOULD-disjunction of itself
    over ``fields`` with per-field boosts."""
    import dataclasses

    from lucene_plugin_spark.query.plan import (DEFAULT_FIELD, Bool, DisMax,
                                                Fuzzy, Phrase, Range, Regexp,
                                                SynSet, Term, Wildcard)
    b = boosts or {}

    def per_field(leaf) -> Bool:
        return Bool(should=tuple(
            dataclasses.replace(leaf, field=f,
                                boost=leaf.boost * b.get(f, 1.0))
            for f in fields))

    def rw(n):
        if isinstance(n, Bool):
            return dataclasses.replace(
                n, should=tuple(rw(c) for c in n.should),
                must=tuple(rw(c) for c in n.must),
                must_not=tuple(rw(c) for c in n.must_not),
                filter=tuple(rw(c) for c in n.filter))
        if isinstance(n, DisMax):
            return dataclasses.replace(
                n, disjuncts=tuple(rw(c) for c in n.disjuncts))
        if (isinstance(n, (Term, Phrase, Range, Wildcard, Regexp, Fuzzy,
                           SynSet))
                and n.field == DEFAULT_FIELD):
            return per_field(n)
        return n

    return rw(node)


def federated_search(engines: list[tuple[str, object]], repo: str | None,
                     query: str, limit: int = 10) -> DataFrame:
    """Fan a query out across several independent indexes and merge one
    top-k — the ``MultiReader`` / cross-cluster-search shape, except each
    index KEEPS its own corpus statistics (df/N/avgdl) and its own analyzer,
    exactly like federated Lucene deployments where per-shard IDF is not
    blended.  Ties across indexes break on (index asc, doc_id asc) so the
    merged cut is deterministic.

    Scale shape: per-index top-``limit`` is each engine's ordinary pruned
    search; the merge unions k-row frames — driver-side cost O(n_indexes *
    limit), never corpus-bound."""
    parts = []
    for name, eng in engines:
        parts.append(eng.search(repo, query, limit=limit)
                     .select(F.lit(name).alias("index"),
                             "doc_id", "path", "score"))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return (out.orderBy(F.desc("score"), F.asc("index"), F.asc("doc_id"))
            .limit(limit))
