"""LuceneFacade-equivalent public API.

Mirrors the reference's six-method facade (LuceneFacade.java:17-81 /
LuceneFacadeImpl.java): ``index_file``, ``index_text``, ``index_map``,
``search``, ``delete``, ``clear`` — plus the same input validation
(LuceneFacadeImpl.java:97-130) and collection-name sanitization
(LuceneIndexBean.java:553-586).

Semantics (SURVEY.md §2.7): upsert = last-write-wins by (collection, id);
collection isolation; search returns up to ``limit`` (default 255, the
reference's hardcoded service-path depth, LuceneReaderImpl.java:104) hits
ordered (score desc, doc_id asc).

Visibility model: the reference soft-commits after ≥16 docs or 1 s
(LuceneIndexBean.java:78-79).  Here mutations buffer on the driver (the
last state per key) and are committed lazily before the next search — the
analogue of commit+reopen at SearcherUpdateServiceImpl.java:117-127;
``commit()`` forces it.  The first commit into an empty warehouse is a full
build.  Every later commit clears the collections cleared since the last
one, then applies all pending upserts and deletes as ONE IndexMutator pass
at a new snapshot; deletes reach every live key, whoever wrote it.  The
pending rows reach the mutator as a local table, so a small commit runs
the pass as one Spark task (``index/task_pass.py``), which appends the
docs rows and key deletes (merge-on-read) instead of rewriting docs
partitions.  That commit is the wait a searcher sees after writing: for 16
writes and 4 deletes over a 10k-doc index at local[4] on a 4-vCPU host it
takes about 0.2 s (one Spark job), and the search that runs it, on the
cold engine the commit opens, about 0.7 s (perfbench ``index_refresh``).

Each hit is a ``LuceneEntry(id, score, external_id)`` —
client/src/main/java/com/caucho/lucene/LuceneEntry.java:3-28.

Async surface: the reference facade is an actor whose methods take a
``Result`` callback and whose mailbox serializes operations
(LuceneFacadeImpl.java:23-151, single-writer actor LuceneWriterImpl.java:20).
``*_async`` methods mirror that: they enqueue onto a single-thread executor
(the mailbox analogue — strict FIFO, so an async index followed by an async
search sees the write) and return a ``concurrent.futures.Future``; an
optional ``callback`` fires with the result like Baratine's ``Result.of``.

Service-path limit semantics: the HTTP reader path DROPS the caller's limit
and substitutes 255 (facade forwards it, LuceneFacadeImpl.java:87, but the
reader hardcodes 255: LuceneReaderImpl.java:100-104, Base.java:102).
``service_limit_drop=True`` replicates that caller-visible quirk; the
default keeps the sane Python-API behavior (honor ``limit``).
"""

from __future__ import annotations

import concurrent.futures
from collections import OrderedDict
from dataclasses import dataclass

import pandas as pd
from pyspark.sql import SparkSession

from lucene_plugin_spark.index.builder import IndexBuilder
from lucene_plugin_spark.query.executor import SearchEngine
from lucene_plugin_spark.query.parser import sanitize_collection
from lucene_plugin_spark.storage.catalog import Catalog


class LuceneException(Exception):
    """Mirrors com.caucho.lucene.LuceneException."""


@dataclass(frozen=True)
class LuceneEntry:
    id: int
    score: float
    external_id: str


class LuceneFacade:
    # entries in each engine's results LRU (the reference's _resultsCache)
    RESULTS_CACHE_SIZE = 512

    def __init__(self, spark: SparkSession, warehouse: str,
                 service_limit_drop: bool = False):
        self.spark = spark
        self.catalog = Catalog(warehouse)
        self.builder = IndexBuilder(spark, self.catalog)
        self.service_limit_drop = service_limit_drop
        self._mailbox: concurrent.futures.ThreadPoolExecutor | None = None
        # (collection, id) -> row dict or None (deleted); final state of the
        # ops since the last commit (last-write-wins within a batch)
        self._pending: dict[tuple[str, str], dict | None] = {}
        # collections cleared since the last commit; cleared before the
        # pending ops apply, so writes after a clear survive it
        self._cleared: set[str] = set()
        self._dirty = False
        self._engine: SearchEngine | None = None

    # ------------------------------------------------------------ validation
    @staticmethod
    def _check(value, what: str):
        if value is None or (isinstance(value, str) and not value):
            raise LuceneException(f"{what} cannot be null or empty")

    # --------------------------------------------------------------- writes
    def index_text(self, collection: str, ext_id: str, text: str) -> bool:
        self._check(collection, "collection")
        self._check(ext_id, "id")
        if text is None:
            raise LuceneException("text cannot be null")
        collection = sanitize_collection(collection)
        self._pending[(collection, ext_id)] = {
            "repo": collection, "path": ext_id, "commit": "0" * 8,
            "lang": "text", "content": text, "fields": None}
        self._dirty = True
        return True

    def index_map(self, collection: str, ext_id: str, m: dict[str, object]) -> bool:
        self._check(collection, "collection")
        self._check(ext_id, "id")
        if m is None or not m:
            raise LuceneException("map cannot be null or empty")
        collection = sanitize_collection(collection)
        # reference: only the FIRST value of multi-valued entries is indexed
        # (LuceneIndexBean.java:338-341); all values coerced to strings (:746)
        fields = {}
        for k, v in m.items():
            if isinstance(v, (list, tuple)):
                v = v[0] if v else ""
            fields[str(k)] = str(v)
        self._pending[(collection, ext_id)] = {
            "repo": collection, "path": ext_id, "commit": "0" * 8,
            "lang": "map", "content": "", "fields": fields}
        self._dirty = True
        return True

    def index_file(self, collection: str, path: str) -> bool:
        """Reference reads the file from BFS, auto-detects the format and
        Tika-extracts text (LuceneIndexBean.java:200-228; formats exercised
        by TestSearchByFirstWord.java:29-70).  Here: local binary read +
        format sniff (extension, then magic bytes, then content head) +
        extraction for all 5 reference fixture formats (txt/xml/json/pdf/
        docx, plus html) via ops.extract.  external_id = the path, like the
        reference."""
        self._check(collection, "collection")
        self._check(path, "path")
        from lucene_plugin_spark.ops.extract import extract_text_bytes
        with open(path, "rb") as f:
            raw = f.read()
        return self.index_text(collection, path, extract_text_bytes(raw, path))

    def delete(self, collection: str, ext_id: str) -> bool:
        self._check(collection, "collection")
        self._check(ext_id, "id")
        collection = sanitize_collection(collection)
        self._pending[(collection, ext_id)] = None
        self._dirty = True
        return True

    def clear(self, collection: str) -> None:
        self._check(collection, "collection")
        collection = sanitize_collection(collection)
        self._pending = {k: v for k, v in self._pending.items()
                         if k[0] != collection}
        self._cleared.add(collection)
        self._dirty = True

    # --------------------------------------------------------------- commit
    def commit(self) -> None:
        """Apply pending mutations at a new snapshot (the analogue of the
        reference's soft-commit + searcher reopen,
        SearcherUpdateServiceImpl.java:117-127).

        First commit = full build; every later commit runs pending clears,
        then ONE IndexMutator pass over all pending upserts and deletes —
        full rebuild never happens again."""
        if not self._dirty:
            return
        if not self.catalog.table("docs_meta").exists():
            # a list-backed frame: for the 10k-doc perfbench build its
            # driver peak memory was no higher than a pandas-backed one's
            cols = ("repo", "path", "commit", "lang", "content", "fields")
            live = [tuple(v[c] for c in cols)
                    for v in self._pending.values() if v is not None]
            self.builder.build(self.spark.createDataFrame(
                live, "repo string, path string, commit string, "
                "lang string, content string, fields map<string,string>"),
                fields_map_col="fields")
        else:
            from lucene_plugin_spark.index.mutations import IndexMutator
            mut = IndexMutator(self.spark, self.catalog, self.builder)
            for collection in sorted(self._cleared):
                mut.clear(collection)
            # every pending delete goes to the pass, which resolves it
            # against the live index (a delete of a missing key is a no-op);
            # the batch stays local, so a small one takes the one-task pass
            deletes = [k for k, v in self._pending.items() if v is None]
            upserts = [v for v in self._pending.values() if v is not None]
            dels = (pd.DataFrame(deletes, columns=["repo", "path"])
                    if deletes else None)
            if upserts:
                mut.upsert(pd.DataFrame(upserts), deletes=dels,
                           fields_map_col="fields")
            elif dels is not None:
                mut.delete_keys(dels)
        self._pending = {}
        self._cleared = set()
        self._engine = SearchEngine(self.spark, self.catalog)
        self._dirty = False

    # --------------------------------------------------------------- search
    def search(self, collection: str, query: str, limit: int = 255) -> list[LuceneEntry]:
        self._check(collection, "collection")
        self._check(query, "query")
        if self.service_limit_drop:
            limit = 255  # LuceneReaderImpl.java:100-104 ignores the caller's k
        # _live_engine() commits, and a commit replaces the engine ->
        # caches invalidate
        eng = self._live_engine()
        if eng is None:
            return []
        # per-searcher results LRU (the reference's 512-entry _resultsCache,
        # LuceneIndexBean.java:792,373-378; invalidated by searcher
        # replacement = our engine replacement on commit): a hit becomes the
        # most recent entry, a miss evicts the least recent
        key = (collection, query, limit)
        cache = getattr(eng, "_results_cache", None)
        if cache is None:
            cache = eng._results_cache = OrderedDict()
        if key in cache:
            cache.move_to_end(key)
            return cache[key]
        df = eng.search(sanitize_collection(collection), query, limit=limit)
        out = [LuceneEntry(id=r["doc_id"], score=r["score"], external_id=r["path"])
               for r in df.collect()]
        if len(cache) >= self.RESULTS_CACHE_SIZE:
            cache.popitem(last=False)
        cache[key] = out
        return out

    def more_like_this(self, collection: str, key: str, limit: int = 10,
                       max_terms: int = 8) -> list[LuceneEntry]:
        """Docs similar to the stored doc ``key`` (Lucene MoreLikeThis
        analogue — term selection in SearchEngine.more_like_this).  Our
        extension beyond the reference's six facade methods."""
        self._check(collection, "collection")
        self._check(key, "externalId")
        eng = self._live_engine()
        if eng is None:
            return []
        return self._entries(eng.more_like_this(
            sanitize_collection(collection), key, limit=limit,
            max_terms=max_terms))

    def _live_engine(self) -> "SearchEngine | None":
        """Commit pending mutations and return the current engine, or None
        when nothing has ever been indexed (shared guard for the
        search-module extensions below)."""
        self.commit()
        if not self.catalog.table("docs_meta").exists():
            return None
        if self._engine is None:
            self._engine = SearchEngine(self.spark, self.catalog)
        return self._engine

    def search_page(self, collection: str, query: str, limit: int = 10,
                    offset: int = 0) -> list[LuceneEntry]:
        """Deep paging: ranking rows ``offset+1 .. offset+limit`` (our
        extension; SearchEngine.search_page, Lucene searchAfter analogue)."""
        self._check(collection, "collection")
        self._check(query, "query")
        eng = self._live_engine()
        if eng is None:
            return []
        return self._entries(eng.search_page(
            sanitize_collection(collection), query, limit=limit,
            offset=offset))

    def suggest(self, prefix: str, limit: int = 10) -> list[tuple[str, int]]:
        """Prefix autocomplete from the term dictionary (lucene-suggest
        analogue): [(term, collection_frequency)] best-first."""
        self._check(prefix, "prefix")
        eng = self._live_engine()
        if eng is None:
            return []
        return [(r["term"], r["cf"])
                for r in eng.suggest(prefix, limit=limit).collect()]

    def search_surround(self, collection: str, query: str,
                        limit: int = 255) -> list[LuceneEntry]:
        """Surround query language (queryparser ``surround`` package):
        explicit ``AND``/``OR``/``NOT`` plus ``3N(a,b)`` / ``3W(a,b)``
        span-distance operators, strict grammar."""
        from lucene_plugin_spark.query.surround import surround_search
        self._check(collection, "collection")
        self._check(query, "query")
        eng = self._live_engine()
        if eng is None:
            return []
        return self._entries(surround_search(
            eng, sanitize_collection(collection), query, limit=limit))

    def search_passages(self, collection: str, terms: list[str],
                        width: int = 16, limit: int = 10) -> list[dict]:
        """Best-passage highlighting (PostingsHighlighter analogue):
        [{'id', 'externalId', 'passage', 'score', 'snippet'}] — the top
        idf-weighted ``width``-token window per top-``limit`` hit."""
        from lucene_plugin_spark.query.results import best_passages
        self._check(collection, "collection")
        eng = self._live_engine()
        if eng is None or not terms:
            return []
        out = best_passages(eng, sanitize_collection(collection), terms,
                            width=width, limit=limit)
        return [{"id": r["doc_id"], "externalId": r["path"],
                 "passage": r["passage"], "score": r["p_score"],
                 "snippet": r["snippet"]} for r in out.collect()]

    def drill_sideways(self, collection: str, query: str,
                       drill: dict[str, str],
                       facets: list[str]) -> list[dict]:
        """``DrillSideways`` facet counts: [{'facet', 'value',
        'doc_count'}] — each drilled dimension counted without its own
        filter, un-drilled dimensions over the drilled-down set."""
        from lucene_plugin_spark.query.results import drill_sideways
        self._check(collection, "collection")
        eng = self._live_engine()
        if eng is None or not query:
            return []
        hits = eng.search(sanitize_collection(collection), query,
                          limit=(1 << 31) - 1)
        return [{"facet": r["facet"], "value": r["value"],
                 "docCount": r["doc_count"]}
                for r in drill_sideways(eng, hits, drill,
                                        list(facets)).collect()]

    def suggest_infix(self, substring: str,
                      limit: int = 10) -> list[tuple[str, int]]:
        """Infix autocomplete (``AnalyzingInfixSuggester`` analogue):
        [(term, collection_frequency)] for terms containing ``substring``
        anywhere, best-first."""
        self._check(substring, "substring")
        eng = self._live_engine()
        if eng is None:
            return []
        return [(r["term"], r["cf"])
                for r in eng.suggest_infix(substring, limit=limit).collect()]

    def spellcheck(self, terms: list[str], max_dist: int = 2) -> list[dict]:
        """Best in-vocabulary correction per query term (DirectSpellChecker
        analogue): [{'qterm', 'suggestion', 'dist', 'cf'}]."""
        eng = self._live_engine()
        if eng is None or not terms:
            return []
        return [r.asDict() for r in eng.spellcheck(terms,
                                                   max_dist=max_dist).collect()]

    def highlight(self, collection: str, term: str, limit: int = 10,
                  window: int = 40) -> list[dict]:
        """Top-``limit`` hits for ``term`` with a snippet around the first
        whole-word match (lucene-highlighter analogue):
        [{'externalId', 'score', 'snippet'}]."""
        self._check(collection, "collection")
        self._check(term, "term")
        eng = self._live_engine()
        if eng is None:
            return []
        from lucene_plugin_spark.query.results import highlight as _hl
        hits = eng.search(sanitize_collection(collection), term, limit=limit)
        return [{"externalId": r["path"], "score": r["score"],
                 "snippet": r["snippet"]}
                for r in _hl(eng, hits, term, window=window).collect()]

    def span_near(self, collection: str, terms: list[str], slop: int = 2,
                  in_order: bool = False,
                  limit: int = 10) -> list[LuceneEntry]:
        """All ``terms`` within ``slop`` of each other, ordered or unordered
        (SpanNearQuery analogue; SearchEngine.span_near)."""
        self._check(collection, "collection")
        eng = self._live_engine()
        if eng is None or not terms:
            return []
        return self._entries(eng.span_near(
            sanitize_collection(collection), "text", terms, slop=slop,
            in_order=in_order, limit=limit))

    def search_sorted(self, collection: str, query: str, sort_field: str,
                      limit: int = 10, ascending: bool = True) -> list[dict]:
        """Matches ranked by a stored field instead of score
        (Sort(SortField) analogue): [{'externalId', 'sortKey'}]."""
        self._check(collection, "collection")
        self._check(query, "query")
        eng = self._live_engine()
        if eng is None:
            return []
        df = eng.search_sorted(sanitize_collection(collection), query,
                               sort_field, limit=limit, ascending=ascending)
        return [{"externalId": r["path"], "sortKey": r["sort_key"]}
                for r in df.collect()]

    def _entries(self, df) -> list[LuceneEntry]:
        return [LuceneEntry(id=r["doc_id"], score=r["score"],
                            external_id=r["path"]) for r in df.collect()]

    def search_min_match(self, collection: str, query: str, min_should: int,
                         limit: int = 255) -> list[LuceneEntry]:
        """:meth:`search` with Lucene's
        ``BooleanQuery.setMinimumNumberShouldMatch``: hits must match at
        least ``min_should`` of the query's SHOULD clauses."""
        self._check(collection, "collection")
        self._check(query, "query")
        eng = self._live_engine()
        if eng is None:
            return []
        return self._entries(eng.search_min_match(
            sanitize_collection(collection), query, min_should,
            limit=limit))

    def search_filtered(self, collection: str, query: str, filter_query: str,
                        limit: int = 255) -> list[LuceneEntry]:
        """:meth:`search` with a required non-scoring FILTER clause
        (BooleanClause.Occur.FILTER / ConstantScore analogue)."""
        self._check(collection, "collection")
        self._check(query, "query")
        self._check(filter_query, "filter_query")
        eng = self._live_engine()
        if eng is None:
            return []
        return self._entries(eng.search_filtered(
            sanitize_collection(collection), query, filter_query,
            limit=limit))

    def search_synonyms(self, collection: str, query: str,
                        synonyms: dict[str, list[str]],
                        limit: int = 255) -> list[LuceneEntry]:
        """:meth:`search` with query-time synonym expansion — matching Term
        leaves score as one Lucene ``SynonymQuery`` pseudo-term
        (tf = Σ member tfs, docFreq = max member df)."""
        self._check(collection, "collection")
        self._check(query, "query")
        eng = self._live_engine()
        if eng is None:
            return []
        return self._entries(eng.search_synonyms(
            sanitize_collection(collection), query, synonyms, limit=limit))

    def search_dismax(self, collection: str, queries: list[str],
                      tie: float = 0.0, limit: int = 255) -> list[LuceneEntry]:
        """``DisjunctionMaxQuery``: per-doc best disjunct score +
        ``tie`` × the sum of the other disjuncts'."""
        self._check(collection, "collection")
        eng = self._live_engine()
        if eng is None or not queries:
            return []
        return self._entries(eng.search_dismax(
            sanitize_collection(collection), queries, tie=tie, limit=limit))

    def search_rescore(self, collection: str, query: str, rescore_query: str,
                       window: int = 50, weight: float = 2.0,
                       limit: int = 10) -> list[LuceneEntry]:
        """Two-phase ranking (``QueryRescorer``): top-``window`` docs of
        ``query`` re-ranked by ``base + weight * score(rescore_query)``."""
        from lucene_plugin_spark.query.advanced import rescore
        self._check(collection, "collection")
        self._check(query, "query")
        self._check(rescore_query, "rescore_query")
        eng = self._live_engine()
        if eng is None:
            return []
        return self._entries(rescore(eng, sanitize_collection(collection),
                                     query, rescore_query, window=window,
                                     weight=weight, limit=limit))

    def search_multi_field(self, collection: str, query: str,
                           fields: list[str],
                           boosts: dict[str, float] | None = None,
                           limit: int = 255) -> list[LuceneEntry]:
        """``MultiFieldQueryParser(fields, analyzer, boosts)``: bare query
        leaves fan out over ``fields`` (per-field boosts); explicitly
        qualified leaves keep their field."""
        from lucene_plugin_spark.query.advanced import multi_field
        self._check(collection, "collection")
        self._check(query, "query")
        eng = self._live_engine()
        if eng is None or not fields:
            return []
        return self._entries(multi_field(
            eng, sanitize_collection(collection), query, fields,
            boosts=boosts, limit=limit))

    def search_constant_score(self, collection: str, query: str,
                              boost: float = 1.0,
                              limit: int = 255) -> list[LuceneEntry]:
        """``ConstantScoreQuery``: every match scores exactly ``boost``."""
        from lucene_plugin_spark.query.advanced import constant_score
        self._check(collection, "collection")
        self._check(query, "query")
        eng = self._live_engine()
        if eng is None:
            return []
        return self._entries(constant_score(
            eng, sanitize_collection(collection), query, boost=boost,
            limit=limit))

    def search_function_score(self, collection: str, query: str,
                              weight: float = 0.1,
                              limit: int = 10) -> list[LuceneEntry]:
        """``FunctionScoreQuery``: bm25 * (1 + weight * ln(1 + doc_len))."""
        from lucene_plugin_spark.query.advanced import function_score
        self._check(collection, "collection")
        self._check(query, "query")
        eng = self._live_engine()
        if eng is None:
            return []
        return self._entries(function_score(
            eng, sanitize_collection(collection), query, weight=weight,
            limit=limit))

    def search_tfidf(self, collection: str, terms: list[str],
                     limit: int = 10) -> list[LuceneEntry]:
        """ClassicSimilarity (TF-IDF) ranking — the similarity the reference
        binary's Lucene 5.2.1 actually defaulted to."""
        from lucene_plugin_spark.query.advanced import tfidf_search
        self._check(collection, "collection")
        eng = self._live_engine()
        if eng is None or not terms:
            return []
        return self._entries(tfidf_search(
            eng, sanitize_collection(collection), terms, limit=limit))

    def search_lm(self, collection: str, terms: list[str],
                  similarity: str = "dirichlet", param: float | None = None,
                  limit: int = 10) -> list[LuceneEntry]:
        """Language-model ranking: ``similarity`` picks
        ``LMDirichletSimilarity(mu=param or 2000)`` or
        ``LMJelinekMercerSimilarity(lambda=param or 0.1)`` (``"jm"``)."""
        from lucene_plugin_spark.query.advanced import (lm_dirichlet_search,
                                                        lm_jm_search)
        self._check(collection, "collection")
        if similarity not in ("dirichlet", "jm"):
            raise LuceneException("similarity must be 'dirichlet' or 'jm'")
        eng = self._live_engine()
        if eng is None or not terms:
            return []
        coll = sanitize_collection(collection)
        if similarity == "dirichlet":
            return self._entries(lm_dirichlet_search(
                eng, coll, terms, mu=2000.0 if param is None else param,
                limit=limit))
        return self._entries(lm_jm_search(
            eng, coll, terms, lam=0.1 if param is None else param,
            limit=limit))

    def search_dfr(self, collection: str, terms: list[str],
                   c: float = 1.0, limit: int = 10) -> list[LuceneEntry]:
        """DFR ``I(n)L2`` ranking (``DFRSimilarity(In, L, H2(c))``)."""
        from lucene_plugin_spark.query.advanced import dfr_search
        self._check(collection, "collection")
        eng = self._live_engine()
        if eng is None or not terms:
            return []
        return self._entries(dfr_search(
            eng, sanitize_collection(collection), terms, c=c, limit=limit))

    def search_ib(self, collection: str, terms: list[str],
                  c: float = 1.0, limit: int = 10) -> list[LuceneEntry]:
        """Information-based ``LL-DF-H2`` ranking
        (``IBSimilarity(DistributionLL, LambdaDF, NormalizationH2(c))``)."""
        from lucene_plugin_spark.query.advanced import ib_search
        self._check(collection, "collection")
        eng = self._live_engine()
        if eng is None or not terms:
            return []
        return self._entries(ib_search(
            eng, sanitize_collection(collection), terms, c=c, limit=limit))

    def search_phonetic(self, collection: str, term: str,
                        limit: int = 255) -> list[LuceneEntry]:
        """Phonetic matching (analyzers-phonetic / commons-codec Soundex):
        docs containing any term that SOUNDS like ``term``."""
        self._check(collection, "collection")
        self._check(term, "term")
        eng = self._live_engine()
        if eng is None:
            return []
        return self._entries(eng.phonetic_search(
            sanitize_collection(collection), term, limit=limit))

    def search_sweetspot(self, collection: str, terms: list[str],
                         ln_min: int = 8, ln_max: int = 32,
                         steepness: float = 0.5,
                         limit: int = 10) -> list[LuceneEntry]:
        """``SweetSpotSimilarity`` (lucene-misc) ranking: classic TF-IDF
        with a plateau length norm over ``[ln_min, ln_max]``."""
        from lucene_plugin_spark.query.advanced import sweetspot_search
        self._check(collection, "collection")
        eng = self._live_engine()
        if eng is None or not terms:
            return []
        return self._entries(sweetspot_search(
            eng, sanitize_collection(collection), terms, ln_min=ln_min,
            ln_max=ln_max, steepness=steepness, limit=limit))

    def search_span_first(self, collection: str, term: str, end: int,
                          limit: int = 255) -> list[LuceneEntry]:
        """``SpanFirstQuery``: ``term`` within the first ``end`` positions."""
        from lucene_plugin_spark.query.advanced import span_first
        self._check(collection, "collection")
        self._check(term, "term")
        eng = self._live_engine()
        if eng is None:
            return []
        return self._entries(span_first(
            eng, sanitize_collection(collection), term, end, limit=limit))

    def search_expression(self, collection: str, query: str, expr: str,
                          limit: int = 10) -> list[LuceneEntry]:
        """lucene-expressions sort: rank ``query``'s matches by the compiled
        arithmetic ``expr`` over ``_score`` / ``dl`` / ``doc_id`` (the
        expression ``SortField``); the reported score IS the expression
        value."""
        from lucene_plugin_spark.query.expressions import (
            expression_sort_search)
        self._check(collection, "collection")
        self._check(expr, "expr")
        eng = self._live_engine()
        if eng is None or not query:
            return []
        return self._entries(expression_sort_search(
            eng, sanitize_collection(collection), query, expr, limit=limit))

    def search_simple(self, collection: str, query: str,
                      weights: dict[str, float] | None = None,
                      default_operator: str = "should",
                      limit: int = 255) -> list[LuceneEntry]:
        """``SimpleQueryParser`` (queryparser ``simple`` package): lenient
        ``+ | - "..." (...) * ~N`` grammar with left-associative combining;
        ``weights`` fans bare leaves over the given fields like the
        ``SimpleQueryParser(analyzer, weights)`` constructor."""
        from lucene_plugin_spark.query.simple import simple_query_search
        self._check(collection, "collection")
        eng = self._live_engine()
        if eng is None or not query:
            return []
        return self._entries(simple_query_search(
            eng, sanitize_collection(collection), query, weights=weights,
            default_operator=default_operator, limit=limit))

    def search_span_range(self, collection: str, term: str, start: int,
                          end: int, limit: int = 255) -> list[LuceneEntry]:
        """``SpanPositionRangeQuery``: ``term`` at a position in
        ``[start, end)`` (``SpanFirstQuery`` generalized)."""
        from lucene_plugin_spark.query.advanced import span_position_range
        self._check(collection, "collection")
        self._check(term, "term")
        eng = self._live_engine()
        if eng is None:
            return []
        return self._entries(span_position_range(
            eng, sanitize_collection(collection), term, start, end,
            limit=limit))

    def search_terms_set(self, collection: str, terms: list[str],
                         boost: float = 1.0,
                         limit: int = 255) -> list[LuceneEntry]:
        """``TermsQuery`` (lucene-queries): constant-score filter over a
        term set of any size (no ``maxClauseCount``); matches rank in docID
        order and all score ``boost``."""
        from lucene_plugin_spark.query.advanced import terms_set_query
        self._check(collection, "collection")
        eng = self._live_engine()
        if eng is None or not terms:
            return []
        return self._entries(terms_set_query(
            eng, sanitize_collection(collection), terms, boost=boost,
            limit=limit))

    def search_multi_phrase(self, collection: str, slots: list[list[str]],
                            slop: int = 0,
                            limit: int = 255) -> list[LuceneEntry]:
        """``MultiPhraseQuery`` analogue: a phrase whose positions admit
        several terms (cross-product rewrite; query/advanced.py)."""
        from lucene_plugin_spark.query.advanced import multi_phrase
        self._check(collection, "collection")
        eng = self._live_engine()
        if eng is None or not slots:
            return []
        return self._entries(multi_phrase(
            eng, sanitize_collection(collection), slots, slop=slop,
            limit=limit))

    def search_phrase_prefix(self, collection: str, terms: list[str],
                             prefix: str, max_expansions: int = 50,
                             limit: int = 255) -> list[LuceneEntry]:
        """Phrase-prefix (``MultiPhraseQuery`` javadoc use case /
        ``match_phrase_prefix``): the phrase's last position admits every
        dictionary term starting with ``prefix`` (term order, capped at
        ``max_expansions``)."""
        from lucene_plugin_spark.query.advanced import phrase_prefix
        self._check(collection, "collection")
        self._check(prefix, "prefix")
        eng = self._live_engine()
        if eng is None:
            return []
        return self._entries(phrase_prefix(
            eng, sanitize_collection(collection), terms, prefix,
            max_expansions=max_expansions, limit=limit))

    def search_common_terms(self, collection: str, terms: list[str],
                            max_term_frequency: float = 0.01,
                            limit: int = 255) -> list[LuceneEntry]:
        """``CommonTermsQuery``: docs must match >= 1 low-df term
        (df <= ``max_term_frequency``, absolute when >= 1 else a fraction
        of the doc count); high-df terms only add score."""
        from lucene_plugin_spark.query.advanced import common_terms
        self._check(collection, "collection")
        eng = self._live_engine()
        if eng is None or not terms:
            return []
        return self._entries(common_terms(
            eng, sanitize_collection(collection), terms,
            max_term_frequency=max_term_frequency, limit=limit))

    def search_complex_phrase(self, collection: str, slots: list[str],
                              slop: int = 0, max_expansions: int = 50,
                              limit: int = 255) -> list[LuceneEntry]:
        """``ComplexPhraseQueryParser`` analogue: a phrase whose positions
        may each be a literal, wildcard (``para*``/``f?x``) or fuzzy
        (``cache~1``) pattern."""
        from lucene_plugin_spark.query.advanced import complex_phrase
        self._check(collection, "collection")
        eng = self._live_engine()
        if eng is None or not slots:
            return []
        return self._entries(complex_phrase(
            eng, sanitize_collection(collection), slots, slop=slop,
            max_expansions=max_expansions, limit=limit))

    def search_boosting(self, collection: str, query: str,
                        negative_query: str, negative_boost: float = 0.2,
                        limit: int = 255) -> list[LuceneEntry]:
        """``BoostingQuery``: matches of ``query`` that also match
        ``negative_query`` are demoted (score * ``negative_boost``) but
        never excluded."""
        from lucene_plugin_spark.query.advanced import boosting
        self._check(collection, "collection")
        self._check(query, "query")
        self._check(negative_query, "negative_query")
        eng = self._live_engine()
        if eng is None:
            return []
        return self._entries(boosting(
            eng, sanitize_collection(collection), query, negative_query,
            negative_boost=negative_boost, limit=limit))

    def search_span_containing(self, collection: str, big: list[str],
                               little: str, slop: int = 2,
                               limit: int = 255) -> list[LuceneEntry]:
        """``SpanContainingQuery``: ordered near(``big[0]``, ``big[1]``,
        ``slop``) spans that contain a ``little`` occurrence."""
        from lucene_plugin_spark.query.advanced import span_containing
        self._check(collection, "collection")
        if not isinstance(big, (list, tuple)) or len(big) != 2:
            raise LuceneException("big must be a [term, term] pair")
        self._check(little, "little")
        eng = self._live_engine()
        if eng is None:
            return []
        return self._entries(span_containing(
            eng, sanitize_collection(collection), (big[0], big[1]), little,
            slop=slop, limit=limit))

    def search_span_within(self, collection: str, big: list[str],
                           little: str, slop: int = 2,
                           limit: int = 255) -> list[LuceneEntry]:
        """``SpanWithinQuery``: ``little`` occurrences contained in an
        ordered near(``big[0]``, ``big[1]``, ``slop``) span."""
        from lucene_plugin_spark.query.advanced import span_within
        self._check(collection, "collection")
        if not isinstance(big, (list, tuple)) or len(big) != 2:
            raise LuceneException("big must be a [term, term] pair")
        self._check(little, "little")
        eng = self._live_engine()
        if eng is None:
            return []
        return self._entries(span_within(
            eng, sanitize_collection(collection), (big[0], big[1]), little,
            slop=slop, limit=limit))

    def search_join(self, collection: str, from_query: str, from_field: str,
                    to_field: str | None = None, score_mode: str = "max",
                    limit: int = 255) -> list[LuceneEntry]:
        """``JoinUtil.createJoinQuery``: query-time join — docs matching
        ``from_query`` contribute their ``from_field`` terms; docs whose
        ``to_field`` contains one of those terms match, scored by
        ``score_mode`` (max/total/avg/none) over the from-side scores."""
        from lucene_plugin_spark.query.advanced import join_query
        self._check(collection, "collection")
        self._check(from_query, "from_query")
        self._check(from_field, "from_field")
        eng = self._live_engine()
        if eng is None:
            return []
        return self._entries(join_query(
            eng, sanitize_collection(collection), from_query, from_field,
            to_field=to_field, score_mode=score_mode, limit=limit))

    # ---------------------------------------------------------------- async
    def _submit(self, fn, callback, *args) -> concurrent.futures.Future:
        if self._mailbox is None:
            # ONE worker = the actor mailbox: strict FIFO, writes ordered
            # before later reads, exactly the reference's serialization
            self._mailbox = concurrent.futures.ThreadPoolExecutor(max_workers=1)
        fut = self._mailbox.submit(fn, *args)
        if callback is not None:
            fut.add_done_callback(lambda f: callback(f.result()))
        return fut

    def index_text_async(self, collection, ext_id, text, callback=None):
        return self._submit(self.index_text, callback, collection, ext_id, text)

    def index_map_async(self, collection, ext_id, m, callback=None):
        return self._submit(self.index_map, callback, collection, ext_id, m)

    def index_file_async(self, collection, path, callback=None):
        return self._submit(self.index_file, callback, collection, path)

    def search_async(self, collection, query, limit: int = 255, callback=None):
        return self._submit(self.search, callback, collection, query, limit)

    def delete_async(self, collection, ext_id, callback=None):
        return self._submit(self.delete, callback, collection, ext_id)

    def clear_async(self, collection, callback=None):
        return self._submit(self.clear, callback, collection)
