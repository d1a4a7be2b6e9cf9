"""Query execution — one strategy over the compressed doc-range segments.

The driver compiles the query (term-dict lookup for df/idf — the analogue
of Lucene's term dictionary seek) into per-leaf specs; a numpy kernel per
doc-slice decodes posting blocks and computes top-k BM25 with block-max
pruning (the WAND idea from SURVEY.md §4 P6: blocks/docs whose upper bound
``sum(idf_t * block_max_w_t)`` cannot reach the running k-th score are never
fully decoded or scored), then the per-slice top-k merge into one
(score desc, doc_id asc) ranking — per-partition heaps + driver merge,
exactly the shape Lucene's TopScoreDocCollector + our distributed layout
want.  :meth:`SearchEngine._route` runs the kernel on the driver (warmed
engine, small predicted posting volume) or per slice in ``mapInPandas``.

``*:*`` (MatchAllDocsQuery) is one more leaf, as in Lucene's
``BooleanWeight``: it matches every doc of a slice at constant boost, with
the slice's docIDs read from ``docs_meta`` (docs with no tokens have no
postings and no norms rows, yet still match).

Rankings are pytest-gated against the pure-Python oracle.

Collection filtering (reference: the implicit MUST term on __collectionKey__,
LuceneIndexBean.java:385-393) exploits docID assignment order: docIDs are
dense in (repo, path) order, so one build generation gives each repo a
*contiguous docID range* -> the collection filter is a numeric doc_id range
predicate that prunes doc-slice partitions at the parquet level.
"""

from __future__ import annotations

import os
from typing import Iterator

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql.types import (DoubleType, LongType, StringType, StructField,
                               StructType)

from lucene_plugin_spark.index import codec
from lucene_plugin_spark.query import bm25
from lucene_plugin_spark.query.parser import parse_query
from lucene_plugin_spark.query.expand import (EXPANDABLE, exp_cond, exp_key,
                                              exp_mask, exp_match,
                                              wildcard_infix_gram,
                                              wildcard_min_len,
                                              wildcard_prefix)
from lucene_plugin_spark.query.plan import (Bool, DisMax, Fuzzy, MatchAll,
                                            Node, Phrase, SynSet, Term,
                                            Wildcard, is_nested,
                                            iter_all_leaves, simplify)
from lucene_plugin_spark.session import local_frame
from lucene_plugin_spark.storage.catalog import Catalog, SnapshotError

#: the distributed route's kernel output: item index, docID, stored path,
#: score
ROUTE_HITS_SCHEMA = StructType([
    StructField("qi", LongType()),
    StructField("doc_id", LongType()),
    StructField("path", StringType()),
    StructField("score", DoubleType()),
])


def _leaves_of(node: Node):
    """(positive, must, must_not, filter leaves, min_should) — one boolean
    level.

    The reference only ever produces one boolean level (QueryParser output
    wrapped with the collection MUST); nested Bools are flattened here with
    MUST/MUST_NOT/FILTER propagation.  ``min_should`` is taken from the
    TOP-LEVEL Bool only (the only place any surface sets it — Lucene applies
    it per BooleanQuery, and the classic parser never nests one with mm)."""
    should, must, must_not, filters = [], [], [], []

    def walk(n: Node, polarity: str):
        if isinstance(n, Bool):
            for c in n.should:
                walk(c, polarity if polarity == "must_not" else "should")
            for c in n.must:
                walk(c, polarity if polarity == "must_not" else "must")
            for c in n.filter:
                walk(c, polarity if polarity == "must_not" else "filter")
            for c in n.must_not:
                walk(c, "must_not")
        else:
            {"should": should, "must": must, "must_not": must_not,
             "filter": filters}[polarity].append(n)

    walk(node, "should")
    min_should = node.min_should if isinstance(node, Bool) else 0
    return should, must, must_not, filters, min_should


def _leaf_spec(i, l, polarity, range_terms):
    """One query leaf -> kernel spec dict."""
    b = getattr(l, "boost", 1.0)
    if isinstance(l, Term):
        return {"kind": "term", "field": l.field, "terms": [l.term],
                "offsets": None, "leaf_id": i, "polarity": polarity,
                "boost": b}
    if isinstance(l, SynSet):
        return {"kind": "syn", "field": l.field, "terms": list(l.terms),
                "offsets": None, "leaf_id": i, "polarity": polarity,
                "boost": b}
    if isinstance(l, EXPANDABLE):
        # Range/Wildcard/Fuzzy: constant-score OR over expanded terms
        return {"kind": "range", "field": l.field,
                "terms": range_terms.get(l, []), "offsets": None,
                "leaf_id": i, "polarity": polarity, "boost": b}
    if isinstance(l, MatchAll):
        # every doc of the slice at constant boost; no postings read
        return {"kind": "all", "field": None, "terms": [], "offsets": None,
                "leaf_id": i, "polarity": polarity, "boost": b}
    return {"kind": "phrase", "field": l.field, "terms": list(l.terms),
            "offsets": [o - l.offsets[0] for o in l.offsets],
            "slop": l.slop,
            "leaf_id": i, "polarity": polarity, "boost": b}


def _compile_leaf_specs(should, must, must_not, range_terms, filters=()):
    """Compile flattened boolean leaves -> kernel spec dicts."""
    n_s, n_m = len(should), len(must)
    return ([_leaf_spec(i, l, "should", range_terms)
             for i, l in enumerate(should)]
            + [_leaf_spec(n_s + i, l, "must", range_terms)
               for i, l in enumerate(must)]
            + [_leaf_spec(n_s + n_m + i, l, "filter", range_terms)
               for i, l in enumerate(filters)]
            + [_leaf_spec(n_s + n_m + len(filters) + i, l, "must_not",
                          range_terms)
               for i, l in enumerate(must_not)])


def _compile_tree(node: Node, range_terms):
    """Compile a NESTED plan (post-``simplify`` still composite) into a
    recursive spec tree for the per-slice tree evaluator, plus the flat
    leaf-spec list (block prefetch / df lookup / cost estimation walk the
    flat list; the tree holds references to the same spec dicts).  Lucene
    analogue: BooleanWeight evaluating arbitrary sub-weights (BS2) instead
    of one flattened clause list."""
    specs: list[dict] = []

    def build(n):
        if isinstance(n, Bool):
            return {"op": "bool", "mm": int(n.min_should),
                    "should": [build(c) for c in n.should],
                    "must": [build(c) for c in n.must],
                    "filter": [build(c) for c in n.filter],
                    "must_not": [build(c) for c in n.must_not]}
        if isinstance(n, DisMax):
            return {"op": "dismax", "tie": float(n.tie),
                    "children": [build(c) for c in n.disjuncts]}
        sp = _leaf_spec(len(specs), n, "should", range_terms)
        specs.append(sp)
        return sp

    return build(node), specs


class SearchEngine:
    """Top-level search API over a built index (snapshot-pinned reads)."""

    def __init__(self, spark: SparkSession, catalog: Catalog,
                 snapshot_id: int | None = None,
                 pins: dict[str, int] | None = None):
        self.spark = spark
        self.catalog = catalog
        # cross-table snapshot pins (Catalog.tag time travel).  ``pins``
        # covers every table that existed at tag time; ``snapshot_id`` is
        # the legacy segments-only pin (W8 analogue) and defaults to the
        # tag's segments entry when pins are given.
        self.pins = pins
        if snapshot_id is None and pins is not None:
            snapshot_id = pins.get("segments")
        self.snapshot_id = snapshot_id  # pin the segments snapshot (W8 analogue)
        # index-time analyzer variant, round-tripped through the segments
        # snapshot properties (builder.py) so query analysis always matches
        # what was indexed — Lucene's shared-Analyzer wiring
        try:
            props = (catalog.table("segments").snapshot(snapshot_id)
                     .properties)
        except Exception:
            props = {}
        self.analyzer = props.get("analyzer", "standard")
        #: index-time sort columns (builder.index_sort) — docID order is
        #: (index_sort, repo, path) order, enabling early-terminated sorted
        #: search while the index is unmutated
        self.index_sort: list[str] | None = props.get("index_sort") or None
        #: slice width (dslice = doc_id // width); absent on indexes built
        #: before it was persisted
        self._docs_per_slice = int(props.get("docs_per_slice") or 0)
        self._stats = None
        self._sum_dl: dict[str, float] | None = None
        self._repo_ranges = None
        self._seg_cached: DataFrame | None = None
        self._td_cached: DataFrame | None = None
        self._spell_local_idx: dict[str, object] = {}
        self._meta_cached: DataFrame | None = None
        self._path_map: dict[int, str] | None = None
        # match-all docIDs: sorted path-map keys (driver route) and the
        # docs_meta snapshot's dslice partitions
        self._all_ids: np.ndarray | None = None
        self._meta_slices: list[int] | None = None
        self._df_cache: dict[tuple[str, str], float] = {}
        self._cf_cache: dict[tuple[str, str], float] = {}
        self._norms_cache: dict[int, pd.DataFrame] = {}
        self._norm_lookup_cache: dict = {}
        # (field, term) -> {"pdf": block rows, "has_pos": bool}; the driver
        # fast path's postings cache (Lucene page-cache/terms-cache analogue)
        self._blocks_cache: dict[tuple[str, str], dict] = {}
        self._blocks_cache_rows = 0
        self._range_cache: dict[tuple[str, str, str], list[str]] = {}
        # driver-local term dictionary (pandas) — Lucene keeps the term
        # dictionary FST memory-resident per segment; we mirror that up to
        # td_local_max_rows and fall back to the distributed term_dict scan
        # above it (10^12-file corpora).  None = not yet probed, False =
        # too large / unreadable, else a pandas frame.
        self._td_local: object = None

    # ------------------------------------------------------------- warm path
    #: warm() collects the docID->path map to the driver only below this many
    #: docs; above it the distributed broadcast-topk join resolves paths (the
    #: scale-safe default — a full-corpus collect() must never be implicit)
    warm_collect_paths_max_docs = 1_000_000

    def warm(self, collect_paths: bool | None = None) -> "SearchEngine":
        """Pin the hot read-side tables in executor memory for repeated
        queries (the analogue of Lucene's NRT searcher holding segment files
        in the page cache; reference reuses one searcher until the version
        advances, LuceneReaderImpl.java:90-98).

        Snapshot-safe: the engine is replaced on every commit (api.py), so a
        warmed engine can never serve stale postings.  At 100 TB you would
        persist term_dict + the hottest segment partitions only and let
        parquet row-group pruning serve the cold tail; persisting everything
        is the right call at bench scale.

        ``collect_paths=None`` (default) auto-decides: the driver-side
        docID->path map (the reference's 8192-row _keysCache,
        LuceneIndexBean.java:789-790, made total) is collected only when the
        corpus is under ``warm_collect_paths_max_docs``; larger corpora never
        pull a full table to the driver.
        """
        n_parts = self.spark.sparkContext.defaultParallelism
        self._seg_cached = (self.catalog.table("segments")
                            .read(self.spark, self.snapshot_id)
                            .coalesce(n_parts).persist())
        self._seg_cached.count()
        self._td_cached = self._tbl("term_dict").persist()
        self._td_cached.count()
        self._meta_cached = (self._tbl("docs_meta")
                             .select("doc_id", "path").persist())
        n_meta = self._meta_cached.count()
        if collect_paths is None:
            collect_paths = n_meta <= self.warm_collect_paths_max_docs
        if collect_paths:
            self._path_map = {r["doc_id"]: r["path"]
                              for r in self._meta_cached.collect()}
        self._field_stats()
        return self

    def unwarm(self) -> None:
        for df in (self._seg_cached, self._td_cached, self._meta_cached):
            if df is not None:
                df.unpersist()
        self._seg_cached = self._td_cached = self._meta_cached = None
        self._path_map = self._all_ids = None

    def _segments_df(self) -> DataFrame:
        if self._seg_cached is not None:
            return self._seg_cached
        return self.catalog.table("segments").read(self.spark, self.snapshot_id)

    def _term_dict_df(self) -> DataFrame:
        if self._td_cached is not None:
            return self._td_cached
        return self._tbl("term_dict")

    #: rows above which the term dictionary stays distributed-only.  Below
    #: it, the dictionary is read once driver-side via parquet footers +
    #: pyarrow (no Spark job) and every expansion / df lookup resolves
    #: in-process — the analogue of Lucene's memory-resident terms index.
    #: 2M rows of (field, term, df, cf) is ~100-200 MB peak, well under a
    #: driver's budget; a 10^12-file code corpus blows past the bound and
    #: keeps the honest distributed scan.
    td_local_max_rows = 2_000_000

    def _term_dict_local(self):
        """Driver-local pandas term dictionary, or None (too large /
        unreadable).  Reads the CURRENT snapshot's parquet dirs directly via
        pyarrow — no Spark job; footer metadata answers the size probe."""
        if self._td_local is False:
            return None
        if self._td_local is not None:
            return self._td_local
        try:
            import pyarrow.dataset as pads

            from lucene_plugin_spark.storage.catalog import data_files
            files = data_files(self._tbl_snapshot("term_dict").data_dirs)
            if not files:
                self._td_local = False
                return None
            dset = pads.dataset(files, format="parquet")
            if dset.count_rows() > self.td_local_max_rows:
                self._td_local = False
                return None
            pdf = dset.to_table(
                columns=["field", "term", "df", "cf"]).to_pandas()
        except Exception:
            self._td_local = False
            return None
        self._td_local = pdf
        return pdf

    def _meta_path_df(self) -> DataFrame:
        if self._meta_cached is not None:
            return self._meta_cached
        return self._tbl("docs_meta").select("doc_id", "path")

    def _df_for_pairs(self, pairs: list[tuple[str, str]]) -> dict[tuple[str, str], float]:
        """(field, term) -> document frequency, via a driver-side cache over
        the term dictionary (the reference's parsed-query/terms caching idea,
        LuceneIndexBean.java:104; ours is keyed per engine = per snapshot).
        Absent terms are cached as 0.0 so repeats skip the lookup job too.
        The same collect fills ``_cf_cache`` (collection frequency = total
        positions) for the phrase cost estimate."""
        missing = [p for p in pairs if p not in self._df_cache]
        if missing:
            tdl = self._term_dict_local()
            if tdl is not None:
                fs = {f for f, _ in missing}
                ts = {t for _, t in missing}
                sub = tdl[tdl["field"].isin(fs) & tdl["term"].isin(ts)]
                found = {(f, t): float(d) for f, t, d in
                         zip(sub["field"], sub["term"], sub["df"])}
                cfs = {(f, t): float(c) for f, t, c in
                       zip(sub["field"], sub["term"], sub["cf"])}
            else:
                td = self._term_dict_df()
                fields = sorted({f for f, _ in missing})
                terms = sorted({t for _, t in missing})
                rows = (td.where(f"field IN ({_sql_in_list(fields)}) "
                                 f"AND term IN ({_sql_in_list(terms)})")
                        .collect())
                found = {(r["field"], r["term"]): float(r["df"]) for r in rows}
                cfs = {(r["field"], r["term"]): float(r["cf"]) for r in rows}
            for p in missing:
                self._df_cache[p] = found.get(p, 0.0)
                self._cf_cache[p] = cfs.get(p, 0.0)
        return {p: self._df_cache[p] for p in pairs}

    # ------------------------------------------------------------ metadata
    def _field_stats(self) -> dict[str, tuple[float, float]]:
        if self._stats is None:
            self._read_stats()
        return self._stats

    def _field_sum_dl(self, field: str) -> float:
        """Exact total token count of a field (``stats.sum_dl`` — kept as an
        integer by the builder and delta-updated by mutations), the
        ``numberOfFieldTokens`` Lucene's LM similarities normalize by."""
        if self._sum_dl is None:
            self._read_stats()
        return self._sum_dl.get(field, 0.0)

    def _read_stats(self) -> None:
        """Fill ``_stats`` and ``_sum_dl`` from ONE pyarrow read of the
        pinned stats snapshot's files: no Spark job."""
        import pyarrow.dataset as pads

        from lucene_plugin_spark.storage.catalog import data_files
        files = data_files(self._tbl_snapshot("stats").data_dirs)
        rows = (pads.dataset(files, format="parquet").to_table(
            columns=["field", "n_docs", "sum_dl", "avgdl"]).to_pylist()
            if files else [])
        self._stats = {r["field"]: (float(r["n_docs"]), float(r["avgdl"]))
                       for r in rows}
        self._sum_dl = {r["field"]: float(r["sum_dl"]) for r in rows}

    def repo_doc_ranges(self, repo: str) -> list[tuple[int, int]]:
        """A collection's contiguous docID runs, read once per engine from
        the pinned docs_meta snapshot's files with pyarrow, one record
        batch at a time (no Spark job; memory is one batch plus the runs).
        The first search on the engine each facade commit opens pays
        this."""
        if self._repo_ranges is None:
            import pyarrow as pa
            import pyarrow.dataset as pads

            from lucene_plugin_spark.storage.catalog import data_files
            self._repo_ranges = {}
            files = data_files(self._tbl_snapshot("docs_meta").data_dirs)
            if not files:
                return []
            dset = pads.dataset(files, format="parquet")
            # docIDs are contiguous per (repo, build generation) — without a
            # gen column there has been exactly one generation — and, on an
            # index_sort index (ids in (sort..., repo, path) order), per
            # (repo, gen, sort key)
            keys = ["repo", "gen"] if "gen" in dset.schema.names else ["repo"]
            keys += self.index_sort or []
            parts = [pa.Table.from_batches([b]).group_by(keys).aggregate(
                [("doc_id", "min"), ("doc_id", "max")])
                for b in dset.to_batches(columns=keys + ["doc_id"])
                if b.num_rows]
            if parts:
                runs = pa.concat_tables(parts).group_by(keys).aggregate(
                    [("doc_id_min", "min"), ("doc_id_max", "max")])
                for r, lo, hi in zip(runs["repo"].to_pylist(),
                                     runs["doc_id_min_min"].to_pylist(),
                                     runs["doc_id_max_max"].to_pylist()):
                    self._repo_ranges.setdefault(r, []).append((lo, hi))
                for ranges in self._repo_ranges.values():
                    ranges.sort()
        return self._repo_ranges.get(repo, [])

    @classmethod
    def at_tag(cls, spark: SparkSession, catalog: Catalog,
               tag: str) -> "SearchEngine":
        """Time-travel reader: every table read pinned to the snapshot ids
        recorded by ``Catalog.tag(tag)`` — queries answer exactly as they
        did when the tag was written, regardless of later upserts, deletes
        or compactions (Iceberg AS OF semantics across the whole index)."""
        pins = catalog.tag_pins(tag)
        if pins is None:
            raise SnapshotError(f"no such tag: {tag!r}")
        return cls(spark, catalog, pins=pins)

    def _tbl(self, name: str) -> DataFrame:
        """Snapshot-pinned table read (tag pins when present)."""
        sid = self.pins.get(name) if self.pins is not None else None
        return self.catalog.table(name).read(self.spark, sid)

    def _tbl_snapshot(self, name: str):
        sid = self.pins.get(name) if self.pins is not None else None
        return self.catalog.table(name).snapshot(sid)

    def _tombstones_table(self):
        # under tag pins, a tombstones table created after the tag must read
        # as nonexistent (the tagged state had no deletes)
        if self.pins is not None and "tombstones" not in self.pins:
            return None
        tt = self.catalog.table("tombstones")
        return tt if tt.exists() else None

    def _expand_ranges(self, leaves: list[Node]) -> dict[Node, list[str]]:
        """Expandable leaf (Range/Wildcard/Fuzzy) -> matching terms via
        term_dict (Q7 et al.: constant-score rewrite like Lucene's
        MultiTermQuery CONSTANT_SCORE; predicates in query/expand.py).

        Fuzzy leaves with ``max_edits <= 2`` and infix wildcards route
        through the ``spell_grams`` sidecar when no resident dictionary
        exists (:meth:`_expand_gram_leaves`) — candidate cost bounded by
        the query grams' posting sizes, never the vocabulary."""
        out: dict[Node, list[str]] = {}
        td = None
        exp_leaves = [l for l in leaves if isinstance(l, EXPANDABLE)]
        gram_f, seen = [], set()
        for r in exp_leaves:
            key = exp_key(r)
            if (key not in self._range_cache and key not in seen
                    and self._gram_route(r)):
                seen.add(key)
                gram_f.append(r)
        if gram_f:
            self._expand_gram_leaves(gram_f)
        for r in exp_leaves:
            key = exp_key(r)
            if key not in self._range_cache:
                tdl = self._term_dict_local()
                if tdl is not None:
                    mask = exp_mask(r, tdl["field"], tdl["term"])
                    self._range_cache[key] = sorted(tdl["term"][mask].tolist())
                else:
                    if td is None:
                        td = self._term_dict_df()
                    terms = td.where(exp_cond(r)).select("term").collect()
                    self._range_cache[key] = sorted(x["term"] for x in terms)
            out[r] = self._range_cache[key]
        return out

    #: gram-sidecar expansion strategy for multi-term leaves.  "auto":
    #: Fuzzy leaves with ``max_edits <= 2`` and infix Wildcards (no
    #: sargable prefix but a literal run of >= 2 chars, e.g. ``*tabl*``)
    #: use the persisted ``spell_grams`` sidecar (gram-blocked equi-scan,
    #: the FuzzyQuery-over-FST / n-gram-accelerated-wildcard analogue —
    #: see :meth:`_expand_gram_leaves`) whenever the vocabulary exceeds
    #: the resident-dictionary bound and the reader is not tag-pinned;
    #: "scan" forces the term_dict scan (exact for everything); "gram"
    #: forces the sidecar (tests / driver gating).
    gram_expand = "auto"

    def _gram_route(self, leaf) -> bool:
        """True when ``leaf`` should expand via the gram sidecar.  Fuzzy:
        lossless only for ``max_edits <= 2`` (q-gram pigeonhole, same bound
        as spellcheck).  Wildcard: only when the prefix pushdown is weak
        (< 2 literal chars) and some literal run yields a required gram.
        Tag-pinned readers keep the term_dict scan because their pins may
        predate the sidecar snapshot."""
        if isinstance(leaf, Fuzzy):
            if leaf.max_edits > 2:
                return False
        elif isinstance(leaf, Wildcard):
            if (len(wildcard_prefix(leaf.pattern)) >= 2
                    or wildcard_infix_gram(leaf.pattern,
                                           self.SPELL_NGRAM) is None):
                return False
        else:
            return False
        if self.gram_expand == "gram":
            return True
        if self.gram_expand == "scan":
            return False
        return self.pins is None and self._term_dict_local() is None

    def _expand_gram_leaves(self, leaves: list[Node]) -> None:
        """Resolve fuzzy / infix-wildcard leaves via ONE gram-blocked scan
        of the ``spell_grams`` sidecar, filling the range/df/cf caches.

        The required grams form a driver-side literal, so ``gram IN (...)``
        pushes into the (field, gram)-sorted parquet scan and prunes to the
        row groups holding those grams — candidate cost is bounded by the
        grams' posting sizes, never the vocabulary.  Lucene's FuzzyQuery
        intersects a Levenshtein automaton with the term FST and its
        wildcard/regexp queries walk the same FST with an automaton; this
        is that neighborhood idea over a columnar dictionary.

        Losslessness: Fuzzy — ed(a,b) <= d implies >= 1 shared 2-gram once
        ``max(|a|,|b|) >= SPELL_LONG_MIN`` (q-gram count filter), with
        shorter index terms in the '' bucket, probed exactly when the
        length band lets the query reach them.  Wildcard — every match
        contains the longest literal run, hence its middle 2-gram
        (``wildcard_infix_gram``); the '' bucket is probed unless the
        pattern's minimum match length already exceeds the short-term
        bound.  Candidates are verified driver-side with the exact
        predicate (``exp_match``: Levenshtein / anchored regex)."""
        n, lmin = self.SPELL_NGRAM, self.SPELL_LONG_MIN
        fields = sorted({l.field for l in leaves})
        grams: set[str] = set()
        for l in leaves:
            if isinstance(l, Fuzzy):
                qt = l.term
                grams.update(qt[i:i + n] for i in range(len(qt) - n + 1))
                if len(qt) <= (lmin - 1) + l.max_edits:
                    grams.add("")  # short index terms live in the '' bucket
            else:
                grams.add(wildcard_infix_gram(l.pattern, n))
                if wildcard_min_len(l.pattern) < lmin:
                    grams.add("")
        sg = self._spell_grams_df()
        rows = (sg.where(F.col("field").isin(fields)
                         & F.col("gram").isin(sorted(grams)))
                .select("field", "term", "df", "cf").distinct().collect())
        hits: dict[tuple, set[str]] = {exp_key(l): set() for l in leaves}
        for row in rows:
            f, t = row["field"], row["term"]
            self._df_cache[(f, t)] = float(row["df"])
            self._cf_cache[(f, t)] = float(row["cf"])
            for l in leaves:
                if exp_match(l, f, t):
                    hits[exp_key(l)].add(t)
        for key, terms in hits.items():
            self._range_cache[key] = sorted(terms)

    def _prefetch_batch(self, ranges: list[Node],
                        exact_pairs: set[tuple[str, str]]) -> None:
        """ONE term_dict scan fills the range, df and cf caches for a whole
        batch (batch path).

        Each uncached expandable leaf (Range/Wildcard/Fuzzy) contributes one
        disjunct to a single pushed filter; each field's uncached exact
        terms contribute one IN-list disjunct.  Matched rows are assigned
        back to their leaves driver-side (overlapping expansions each claim
        the term) and every scanned row's df/cf lands in the per-engine
        caches, so the subsequent ``_df_for_pairs`` is a pure cache hit.
        One Spark job per batch where the naive shape pays one per
        range-query plus one df-lookup job — per-job fixed cost is serial
        driver time that flattens small-core batch scaling.  Expanded terms
        are constant-score, so term order is score-irrelevant; sorted for
        determinism."""
        missing_r, seen = [], set()
        for r in ranges:
            key = exp_key(r)
            if key not in self._range_cache and key not in seen:
                seen.add(key)
                missing_r.append(r)
        # gram-eligible leaves (fuzzy / infix wildcard) resolve via ONE
        # spell_grams sidecar scan (bounded by gram postings, never the
        # vocabulary) instead of joining the batch's term_dict disjunct
        # scan below
        gram_f = [r for r in missing_r if self._gram_route(r)]
        if gram_f:
            self._expand_gram_leaves(gram_f)
            missing_r = [r for r in missing_r
                         if exp_key(r) not in self._range_cache]
        missing_p = sorted(p for p in exact_pairs if p not in self._df_cache)
        if not missing_r and not missing_p:
            return
        tdl = self._term_dict_local()
        if tdl is not None:
            # in-process resolution: same fills as the distributed scan
            # below, zero Spark jobs
            for r in missing_r:
                mask = exp_mask(r, tdl["field"], tdl["term"])
                sub = tdl[mask]
                self._range_cache[exp_key(r)] = sorted(sub["term"].tolist())
                for f, t, d, c in zip(sub["field"], sub["term"],
                                      sub["df"], sub["cf"]):
                    self._df_cache[(f, t)] = float(d)
                    self._cf_cache[(f, t)] = float(c)
            if missing_p:
                fs = {f for f, _ in missing_p}
                ts = {t for _, t in missing_p}
                sub = tdl[tdl["field"].isin(fs) & tdl["term"].isin(ts)]
                for f, t, d, c in zip(sub["field"], sub["term"],
                                      sub["df"], sub["cf"]):
                    self._df_cache[(f, t)] = float(d)
                    self._cf_cache[(f, t)] = float(c)
            for p in missing_p:   # absent terms: df 0, never re-scanned
                self._df_cache.setdefault(p, 0.0)
                self._cf_cache.setdefault(p, 0.0)
            return
        conds = [exp_cond(r) for r in missing_r]
        by_field: dict[str, list[str]] = {}
        for f, t in missing_p:
            by_field.setdefault(f, []).append(t)
        for f, ts in sorted(by_field.items()):
            conds.append(F.expr(f"field IN ({_sql_in_list([f])}) "
                                f"AND term IN ({_sql_in_list(ts)})"))
        cond = conds[0]
        for c in conds[1:]:
            cond = cond | c
        rows = (self._term_dict_df().where(cond)
                .select("field", "term", "df", "cf").collect())
        hits: dict[tuple, list[str]] = {exp_key(r): [] for r in missing_r}
        for row in rows:
            f, t = row["field"], row["term"]
            self._df_cache[(f, t)] = float(row["df"])
            self._cf_cache[(f, t)] = float(row["cf"])
            for r in missing_r:
                if exp_match(r, f, t):
                    hits[exp_key(r)].append(t)
        for key, terms in hits.items():
            self._range_cache[key] = sorted(terms)
        for p in missing_p:       # absent terms: df 0, never re-scanned
            self._df_cache.setdefault(p, 0.0)
            self._cf_cache.setdefault(p, 0.0)

    # ---------------------------------------------------------------- search
    def search(self, repo: str | None, query: str, limit: int = 255
               ) -> DataFrame:
        """Top-k hits as DataFrame(doc_id, path, score), score desc / doc_id asc.

        ``repo=None`` searches all collections (the reference always scopes to
        one collection; multi-collection search is our extension).
        """
        # repo taken verbatim: collection-name sanitization (reference Q13)
        # is a facade-level concern applied at BOTH index and search time
        # (api.py); engine-level repos are raw corpus values
        node = parse_query(query, variant=self.analyzer)
        return self.search_node(node, repo, limit)

    def search_min_match(self, repo: str | None, query: str, min_should: int,
                         limit: int = 255) -> DataFrame:
        """:meth:`search` with Lucene's
        ``BooleanQuery.setMinimumNumberShouldMatch``: a doc must match at
        least ``min_should`` of the query's SHOULD clauses (MUST / FILTER
        clauses don't count toward it; more clauses required than exist
        means no hits, Lucene's behavior)."""
        node = parse_query(query, variant=self.analyzer)
        if isinstance(node, Bool):
            import dataclasses
            node = dataclasses.replace(node, min_should=int(min_should))
        else:  # single leaf = one SHOULD clause
            node = Bool(should=(node,), min_should=int(min_should))
        return self.search_node(node, repo, limit)

    def search_filtered(self, repo: str | None, query: str, filter_query: str,
                        limit: int = 255) -> DataFrame:
        """:meth:`search` with a FILTER clause (BooleanClause.Occur.FILTER):
        ``filter_query`` must match but contributes nothing to the score —
        Lucene's cached-filter / ConstantScore(0) wrapping.  mm=1 makes the
        main query required (the Solr/ES ``q``+``fq`` idiom) — without it
        Lucene would also match filter-only docs at score 0."""
        qn, fn = parse_query(query, variant=self.analyzer), parse_query(filter_query, variant=self.analyzer)
        return self.search_node(Bool(should=(qn,), filter=(fn,),
                                     min_should=1),
                                repo, limit)

    def search_synonyms(self, repo: str | None, query: str,
                        synonyms: dict[str, list[str]], limit: int = 255
                        ) -> DataFrame:
        """:meth:`search` with query-time synonym expansion: every analyzed
        Term leaf whose term has an entry in ``synonyms`` is rewritten to a
        Lucene ``SynonymQuery`` over {term} ∪ synonyms[term] — per-doc
        tf = Σ member tfs, docFreq = max member df (SynonymQuery's blended
        statistics; reference analyzers would wire this through a
        SynonymGraphFilter, which the classic parser consumes the same way)."""
        def rewrite(n: Node) -> Node:
            if isinstance(n, Term) and n.term in synonyms:
                members = tuple(dict.fromkeys([n.term] + list(synonyms[n.term])))
                return SynSet(field=n.field, terms=members, boost=n.boost)
            if isinstance(n, Bool):
                import dataclasses
                return dataclasses.replace(
                    n,
                    should=tuple(rewrite(c) for c in n.should),
                    must=tuple(rewrite(c) for c in n.must),
                    must_not=tuple(rewrite(c) for c in n.must_not),
                    filter=tuple(rewrite(c) for c in n.filter))
            return n

        return self.search_node(rewrite(parse_query(query, variant=self.analyzer)), repo, limit)

    def search_dismax(self, repo: str | None, queries: list[str],
                      tie: float = 0.0, limit: int = 255) -> DataFrame:
        """Lucene ``DisjunctionMaxQuery``: each string in ``queries`` is one
        disjunct (typically the same user terms against different fields —
        the dismax multi-field shape); a doc's score is its best disjunct's
        score plus ``tie`` × the sum of the other disjuncts'."""
        node = DisMax(disjuncts=tuple(parse_query(q, variant=self.analyzer)
                               for q in queries),
                      tie=float(tie))
        return self.search_node(node, repo, limit)

    def search_node(self, node: Node, repo: str | None,
                    limit: int = 255) -> DataFrame:
        """:meth:`search` for an already-built query plan node (used by
        programmatic query builders like :meth:`more_like_this`)."""
        cq = self._compile_query(node, repo)
        if cq is None:
            return self._with_paths(_empty_hits(), limit)
        local, dist = self._route(
            [(cq, _query_scorer(cq, self._field_stats()))], limit)
        return self._with_paths(local.get(0, dist), limit)

    def _with_paths(self, hits, limit: int) -> DataFrame:
        """(score desc, doc_id asc) top-k of ``hits`` with stored paths, as
        DataFrame(doc_id, path, score).  A driver-route pandas top-k takes
        its paths from the warmed path map (no job).  A distributed-route
        frame already carries each hit's path (the route kernel reads them
        from the slice's docs_meta partition), so its top-k is one
        TakeOrderedAndProject over the per-slice heaps: collecting it is
        the search's only Spark job."""
        if isinstance(hits, pd.DataFrame):
            pm = self._path_map
            res = hits.assign(path=[pm.get(int(d)) for d in hits["doc_id"]])
            return self.spark.createDataFrame(
                res[["doc_id", "path", "score"]],
                "doc_id long, path string, score double")
        return (hits.orderBy(F.desc("score"), F.asc("doc_id")).limit(limit)
                .select("doc_id", "path", "score"))

    def explain(self, repo: str | None, query: str, key: str) -> dict:
        """Lucene ``IndexSearcher.explain`` analogue: the per-leaf BM25
        breakdown of ``query``'s score for the stored doc ``key``.

        Scores each leaf against JUST that docID (collection filter =
        [doc_id, doc_id]) through the SAME driver-path kernels as search —
        the reported total is the searched score by construction, not a
        re-derivation that could drift.  Driver-side only: one metadata
        row fetch + the cached block fetch; never a corpus scan.
        """
        node = parse_query(query, variant=self.analyzer)
        row = (self._meta_path_df().where(F.col("path") == key)
               .limit(1).collect())
        out: dict = {"path": key, "doc_id": None, "matches": False,
                     "score": 0.0, "leaves": []}
        if not row:
            return out
        doc_id = int(row[0]["doc_id"])
        out["doc_id"] = doc_id
        cq = self._compile_query(node, repo)
        if cq is None:
            return out
        dr = [(doc_id, doc_id)]
        if cq["doc_ranges"] is not None and not any(
                lo <= doc_id <= hi for lo, hi in cq["doc_ranges"]):
            return out  # doc outside the collection
        stats = self._field_stats()
        idx, slices = self._blocks_for(cq["pairs"], cq["pos_pairs"])
        norms_dirs, tomb_dirs = self._sidecar_dirs()
        fields = tuple(sorted({f for f, _ in cq["pairs"]}))
        norms = self._norm_lookup_for(tuple(slices), fields, norms_dirs)
        live_slices = slices
        if cq["match_all"]:
            # the doc's own slice decides its liveness, whatever the terms
            idx.all_ids = np.array([doc_id], np.int64)
            live_slices = sorted(set(slices) | set(self._doc_slices(dr)))
        dead = _tombstones_of(tomb_dirs, live_slices)
        total, must_ok, excluded, any_hit = 0.0, True, False, False
        for s in cq["specs"]:
            probe = {**s, "leaf_id": 0, "polarity": "should"}
            res = _score_slice(idx, norms, [probe], cq["df_map"], stats, dr,
                               1, s["kind"] == "phrase", dead=dead)
            hit = res is not None and len(res) > 0
            sc = float(res["score"].iloc[0]) if hit else 0.0
            if s["polarity"] == "must_not":
                excluded = excluded or hit
            else:
                total += sc
                any_hit = any_hit or hit
                if s["polarity"] == "must" and not hit:
                    must_ok = False
            out["leaves"].append({
                "kind": s["kind"], "field": s["field"], "terms": s["terms"],
                "polarity": s["polarity"], "boost": s.get("boost", 1.0),
                "matched": hit, "score": sc})
        if cq.get("tree") is not None:
            # nested plan: the flat per-leaf breakdown above is informational;
            # match/total come from the same recursive evaluator search uses
            ids, scores = _eval_tree_slice(cq["tree"], idx, norms,
                                           cq["df_map"], stats, dr, dead)
            out["matches"] = bool(ids.size)
            out["score"] = float(scores[0]) if ids.size else 0.0
            return out
        out["matches"] = any_hit and must_ok and not excluded
        out["score"] = total if out["matches"] else 0.0
        return out

    def more_like_this(self, repo: str | None, key: str, limit: int = 10,
                       max_terms: int = 8, min_tf: int = 1, min_df: int = 2,
                       field: str = "text") -> DataFrame:
        """Lucene MoreLikeThis analogue: find docs similar to a stored doc.

        Term selection mirrors queries-module MoreLikeThis over stored
        fields (Lucene re-analyzes stored content when no term vectors
        exist): re-analyze the doc, keep terms with tf >= min_tf and
        df >= min_df, rank by ``round(tf * idf(df), 6)`` (BM25 idf; MLT
        classic uses tf·idf too) with a deterministic term-asc tie-break,
        take the ``max_terms`` best and run them as one scored OR query
        through the ordinary search path (WAND-eligible: it is a pure
        term-OR).  The 6-decimal rounding before ranking keeps the selected
        term set identical between this engine and the DuckDB oracle, whose
        ln() may differ in the last ulp.

        The one-row content fetch is a parquet-pruned filter on the docs
        table — never a corpus collect.
        """
        from collections import Counter

        from lucene_plugin_spark.analysis.tokenizer import tokenize_text

        docs_t = self._tbl("docs")
        cond = F.col("path") == key
        if repo is not None:
            cond = cond & (F.col("repo") == repo)
        row = docs_t.where(cond).select("content").limit(1).collect()
        empty = self.spark.createDataFrame(
            [], "doc_id long, path string, score double")
        if not row or not row[0]["content"]:
            return empty
        tf = Counter(t for t, _ in tokenize_text(row[0]["content"],
                                                 variant=self.analyzer))
        if not tf:
            return empty
        stats = self._field_stats()
        n_docs, _avg = stats.get(field, (0.0, 1.0))
        dfm = self._df_for_pairs(sorted((field, t) for t in tf))
        scored = []
        for t, c in tf.items():
            dfv = dfm.get((field, t), 0.0)
            if c >= min_tf and dfv >= min_df:
                scored.append((round(c * bm25.idf(dfv, n_docs), 6), t))
        top = sorted(scored, key=lambda x: (-x[0], x[1]))[:max_terms]
        if not top:
            return empty
        node = Bool(should=tuple(Term(field, t) for _s, t in top))
        return self.search_node(node, repo, limit=limit)

    def search_page(self, repo: str | None, query: str, limit: int = 10,
                    offset: int = 0) -> DataFrame:
        """Deep paging: rows ``offset+1 .. offset+limit`` of the ranking.

        Lucene ``searchAfter`` analogue with the standard distributed-engine
        strategy (Solr/ES deep paging): collect the top ``offset+limit``
        (per-slice heaps stay that size), then drop the first ``offset``
        rows of the k-row result on the driver side.  Correct because the
        total order (score desc, doc_id asc) is deterministic, and cheap
        because the slice only ever touches offset+limit rows — never the
        corpus.  The reference pages the same way: one searcher call per
        page over the full ranking (TestPaging.java).
        """
        if offset <= 0:
            return self.search(repo, query, limit=limit)
        top = self.search(repo, query, limit=offset + limit)
        w = Window.orderBy(F.desc("score"), F.asc("doc_id"))
        return (top.withColumn("_rn", F.row_number().over(w))
                .where(F.col("_rn") > offset)
                .select("doc_id", "path", "score")
                .orderBy(F.desc("score"), F.asc("doc_id")))

    def term_vector(self, repo: str | None, key: str,
                    field: str = "text") -> DataFrame:
        """``IndexReader.getTermVector`` analogue: the (term, tf) vector of
        one stored document, answered from the INDEX (slice-scoped posting
        block decode), not by re-analyzing stored content — so it reflects
        exactly what was indexed, including post-mutation state (a deleted
        doc returns an empty vector, an upserted doc its live version's).

        Scale shape: docID resolution is a parquet-pruned one-row filter on
        docs_meta; the block scan pushes ``field = ? AND first_doc <= id AND
        last_doc >= id`` into the segments scan, and with slice-aligned
        files that prunes to the single doc-slice containing the doc
        (Lucene reads one segment's term-vector file the same way).  The
        mapInPandas decode touches only blocks whose docID window straddles
        the target — a bounded point read, never a corpus scan.
        """
        meta = self._tbl("docs_meta")
        cond = F.col("path") == key
        if repo is not None:
            cond = cond & (F.col("repo") == repo)
        # live-version resolution: docs_meta keeps dead rows until compaction
        # (an upserted key has BOTH its tombstoned old doc_id and its live
        # new one), so anti-join tombstones and take the latest generation —
        # doc_ids are append-ordered, so max(doc_id) IS last-write-wins
        cand = meta.where(cond).select("doc_id")
        tt = self._tombstones_table()
        if tt is not None:
            cand = cand.join(self._tbl("tombstones").select("doc_id"),
                             "doc_id", "left_anti")
        row = cand.agg(F.max("doc_id").alias("doc_id")).collect()
        empty = self.spark.createDataFrame([], "term string, tf bigint")
        if not row or row[0]["doc_id"] is None:
            return empty
        doc_id = int(row[0]["doc_id"])
        # term != "" drops the fused norms sentinel rows (fused.NORMS_TERM):
        # norms are docvalues, not vocabulary
        seg = (self._segments_df()
               .where((F.col("field") == field) & (F.col("term") != "")
                      & (F.col("first_doc") <= doc_id)
                      & (F.col("last_doc") >= doc_id))
               .select("term", "doc_gaps", "tfs"))

        def scan(it):
            for pdf in it:
                terms: list[str] = []
                tfs: list[int] = []
                for term, gaps, tfb in zip(pdf["term"], pdf["doc_gaps"],
                                           pdf["tfs"]):
                    ids = codec.decode_ids(gaps)
                    j = int(np.searchsorted(ids, doc_id))
                    if j < ids.size and ids[j] == doc_id:
                        terms.append(term)
                        tfs.append(int(codec.varint_decode(tfb)[j]))
                yield pd.DataFrame({"term": terms, "tf": tfs})

        # a (term, doc) pair lives in exactly one block (docIDs are unique
        # per posting list); the grouped sum is pure defense and its input
        # is |doc's distinct terms| rows, not the corpus
        return (seg.mapInPandas(scan, "term string, tf bigint")
                .groupBy("term").agg(F.sum("tf").cast("bigint").alias("tf"))
                .orderBy("term"))

    def span_near(self, repo: str | None, field: str, terms: list[str],
                  slop: int = 2, in_order: bool = False,
                  limit: int = 255) -> DataFrame:
        """Lucene ``SpanNearQuery`` analogue: all ``terms`` near each other
        within ``slop``, ordered or unordered.

        Maps onto the sloppy-phrase anchor-displacement machinery
        (:class:`~lucene_plugin_spark.query.plan.Phrase`): ordered spans use
        the consecutive expected offsets ``0..k-1`` (identical to
        ``"t0 .. tk"~slop``); unordered spans use ALL-ZERO offsets, so the
        displacement ``Σ_j min_q |q − p|`` measures pure distance of every
        other term from the anchor with no direction/order component.
        Matches contribute Lucene's ``1/(1+matchLength)`` sloppyFreq shape
        to a weighted tf feeding the ordinary phrase BM25 (idf = Σ idf(t)).
        Same documented deviation from Lucene's greedy span enumeration as
        the Phrase slop docstring.  Distinct terms occupy distinct
        positions, so unordered displacement is ≥ k−1; ``slop`` below that
        can never match — callers pass the window size they mean.

        Runs through the ordinary compiled-kernel search path (driver fast
        path / per-slice kernels / WAND routing all apply unchanged).
        """
        ts = tuple(t.lower() for t in terms)
        offsets = tuple(range(len(ts))) if in_order else (0,) * len(ts)
        node = Phrase(field, ts, offsets, slop=int(slop))
        return self.search_node(node, repo, limit=limit)

    def search_sorted(self, repo: str | None, query: str, sort_field: str,
                      limit: int = 10, ascending: bool = True) -> DataFrame:
        """Lucene ``Sort(SortField)`` analogue: matches of ``query`` ranked
        by a stored docvalue-like column of ``docs_meta`` (``lang``,
        ``repo``, ``path``, ...) instead of BM25 score.

        Exact field sort needs the FULL match set (Lucene's field collector
        visits every hit too), so the per-slice heaps run unbounded; the
        sort itself is a distributed top-k — Catalyst compiles
        ``orderBy(field).limit(k)`` to TakeOrderedAndProject (per-partition
        field heaps + a k-row driver merge), never a global sort.  Field
        values come from the skinny ``docs_meta`` table pruned to
        ``(doc_id, path, field)`` — the content table is never touched.
        Ties break on internal docID (= (repo, path) order), making the
        cut at ``limit`` deterministic.  Returns
        DataFrame(doc_id, path, sort_key).
        """
        meta = self._tbl("docs_meta")
        if sort_field not in meta.columns:
            raise ValueError(f"sort_field {sort_field!r} not a stored "
                             f"docs_meta column {meta.columns}")
        cq = self._compile_query(parse_query(query, variant=self.analyzer),
                                 repo)
        if cq is None:
            return self.spark.createDataFrame(
                [], "doc_id long, path string, sort_key string")
        key = F.col(sort_field).cast("string").alias("sort_key")
        score = _query_scorer(cq, self._field_stats())
        if (ascending and self.index_sort
                and self.index_sort[0] == sort_field
                and len(self.catalog.table("docs_meta").history()) == 1):
            # SORTED-INDEX EARLY TERMINATION (Lucene TopFieldCollector on
            # a sorted index): docIDs were assigned in (sort_field, repo,
            # path) order and no mutation has appended out-of-order docs,
            # so the first k matching docIDs ARE the sorted top-k.  The
            # scan terminates early for real: matches are probed over a
            # DOUBLING docID prefix [0, B) — doc_ranges prune dslice
            # partitions AND block ranges in the segments scan
            # (_filtered_segments), so each attempt reads only the slices
            # it needs; the loop stops the moment k matches surface.  At
            # 10^12 docs a selective sort prefix answers from the first
            # few slices instead of scanning the corpus.  The driver route
            # (small-df queries) skips the loop — its blocks are already
            # resident and range-filtered locally.
            #
            # untruncated limit: a score-bounded cut (e.g. 1 << 20) would
            # silently take the lowest docIDs OF A SCORE-SELECTED SUBSET when
            # the match set exceeds it; driver-route match sets are already
            # bounded by the route's posting ceiling
            local, _ = self._route([(cq, score)], 1 << 31)
            if local:
                ids = np.sort(local[0]["doc_id"].to_numpy())[:limit]
                topk = self.spark.createDataFrame(
                    [(int(i),) for i in ids], "doc_id long")
            else:
                max_doc = cq["doc_ranges"] is not None and max(
                    hi for _, hi in cq["doc_ranges"]) or None
                if max_doc is None:
                    row = (self._tbl("docs_meta")
                           .agg(F.max("doc_id").alias("m")).collect())
                    max_doc = int(row[0]["m"]) if row and row[0]["m"] is not None else 0
                bound = max(limit * 64, 1024)
                got: list = []
                while True:
                    rng = [(0, bound - 1)]
                    if cq["doc_ranges"] is not None:
                        rng = [(lo, min(hi, bound - 1))
                               for lo, hi in cq["doc_ranges"] if lo < bound]
                    if rng:
                        cq2 = dict(cq)
                        cq2["doc_ranges"] = rng
                        # untruncated for the same reason as the driver
                        # branch: the probe needs the FIRST k matching
                        # docIDs in [0, bound), not k of a score-top subset
                        _, dist = self._route([(cq2, score)], 1 << 31)
                        got = (dist.select("doc_id").orderBy(F.asc("doc_id"))
                               .limit(limit).collect())
                    if len(got) >= limit or bound > max_doc:
                        break
                    bound *= 8
                topk = self.spark.createDataFrame(
                    [(int(r["doc_id"]),) for r in got], "doc_id long")
            return (meta.select("doc_id", "path", key)
                    .join(F.broadcast(topk), "doc_id")
                    .orderBy(F.asc("doc_id"))
                    .select("doc_id", "path", "sort_key"))
        local, hits = self._route([(cq, score)], 1 << 31)
        if local:
            hits = self.spark.createDataFrame(local[0],
                                              "doc_id long, score double")
        order = (F.col("sort_key").asc() if ascending
                 else F.col("sort_key").desc())
        return (meta.select("doc_id", "path", key)
                .join(hits.select("doc_id"), "doc_id")
                .orderBy(order, F.asc("doc_id")).limit(limit)
                .select("doc_id", "path", "sort_key"))

    def suggest(self, prefix: str, field: str = "text",
                limit: int = 10) -> DataFrame:
        """Prefix autocomplete (lucene-suggest analogue): the ``limit`` most
        frequent index terms starting with ``prefix``, ranked by collection
        frequency desc, term asc.

        One filtered scan of the (persisted) term dictionary — the
        startswith predicate is a parquet-pushable range on the sorted term
        column, so at scale this reads one dictionary row-group range, not
        the postings.  Returns DataFrame(term, cf).
        """
        td = self._term_dict_df()
        return (td.where((F.col("field") == field)
                         & F.col("term").startswith(prefix))
                .select("term", F.col("cf").cast("bigint").alias("cf"))
                .orderBy(F.desc("cf"), F.asc("term"))
                .limit(limit))

    def suggest_infix(self, substring: str, field: str = "text",
                      limit: int = 10) -> DataFrame:
        """Infix autocomplete (``AnalyzingInfixSuggester`` analogue): the
        ``limit`` most frequent index terms CONTAINING ``substring``
        anywhere, ranked by collection frequency desc, term asc — the
        lucene-suggest infix family's "match inside the suggestion"
        semantics mapped to the term dictionary.

        Candidates come from the engine's MultiTermQuery machinery: the
        substring compiles to an infix ``Wildcard`` leaf, which
        :meth:`_expand_ranges` resolves via the resident dictionary, the
        ``spell_grams`` sidecar (``gram IN (...)`` pushed into the
        (field, gram)-sorted scan — never a vocabulary scan), or the exact
        band scan, per the same routing rules as search-time wildcards.
        Returns DataFrame(term, cf).
        """
        import re as _re

        from lucene_plugin_spark.query.plan import Wildcard
        sub = substring.lower()
        if not sub:
            return self.spark.createDataFrame([], "term string, cf bigint")
        # metacharacters in the substring are LITERAL (suggest text, not a
        # pattern) — escape them for the wildcard expander
        pat = "*" + _re.sub(r"([*?])", r"\\\1", sub) + "*"
        leaf = Wildcard(field=field, pattern=pat)
        terms = self._expand_ranges([leaf]).get(leaf, [])
        if not terms:
            return self.spark.createDataFrame([], "term string, cf bigint")
        td = self._term_dict_df()
        return (td.where((F.col("field") == field)
                         & F.col("term").isin(list(terms)))
                .select("term", F.col("cf").cast("bigint").alias("cf"))
                .orderBy(F.desc("cf"), F.asc("term"))
                .limit(limit))

    #: phonetic expansion strategy.  "auto": route through the persisted
    #: ``phonetic_codes`` sidecar (pushed ``soundex = 'X000'`` equality,
    #: the 10^12-vocabulary plan) whenever the reader is not tag-pinned
    #: and the vocabulary exceeds the resident-dictionary bound; "scan"
    #: forces the sargable first-letter range prune over term_dict (the
    #: pinned-reader fallback — pins may predate the sidecar snapshot);
    #: "sidecar" forces the sidecar (tests / driver gating).
    phonetic_expand = "auto"

    def phonetic_search(self, repo: str | None, term: str,
                        field: str = "text", limit: int = 255) -> DataFrame:
        """Phonetic matching (the lucene 5.2 analyzers-phonetic module
        analogue — ``PhoneticFilter`` with the commons-codec Soundex
        encoder, applied at QUERY time): docs containing ANY dictionary
        term whose American Soundex equals the query term's, as a
        constant-score expansion (the MultiTermQuery shape every other
        expansion here uses).

        Scale: the persisted ``phonetic_codes`` sidecar (one row per
        (field, term, soundex), files range-partitioned + sorted by
        (field, soundex)) turns the lookup into an exact pushed
        ``soundex = 'X000'`` equality — the scan reads only the row-group
        ranges covering the query's one code bucket, never the vocabulary,
        exactly like ``spell_grams`` does for fuzzy.  Tag-pinned readers
        fall back to the sargable first-letter range prune (Soundex
        preserves the first letter, so ``startswith`` bounds the scan to
        1/26th of the term-sorted dictionary) because their pins may
        predate the sidecar snapshot.  The phonetic class itself is
        query-sized (one code bucket) — it materializes like every other
        MultiTermQuery expansion.
        """
        from lucene_plugin_spark.analysis.phonetic import (soundex,
                                                           soundex_col)
        from lucene_plugin_spark.query.advanced import terms_set_query
        code = soundex(term)
        if not code:
            return self.spark.createDataFrame(
                [], "doc_id long, path string, score double")
        cache = getattr(self, "_phonetic_cache", None)
        if cache is None:
            cache = self._phonetic_cache = {}
        key = (field, code)
        if key not in cache:       # per-snapshot, like the expansion caches
            if self._phonetic_route():
                # sidecar route: pushed (field, soundex) equality — the
                # plan shows EqualTo(soundex,...) in PushedFilters
                pc = self._phonetic_codes_df()
                cache[key] = sorted(
                    r["term"] for r in
                    pc.where((F.col("field") == field)
                             & (F.col("soundex") == code))
                    .select("term").collect())
            else:
                # the class is defined over the letters-STRIPPED term, so
                # the sargable prune must admit terms whose raw first char
                # is not a letter: in the sorted dictionary those all sort
                # before 'a' (terms are lowercase alnum), a second
                # sargable range
                td = (self._term_dict_df()
                      .where((F.col("field") == field)
                             & (F.col("term").startswith(code[0].lower())
                                | (F.col("term") < "a"))))
                cache[key] = sorted(
                    r["term"] for r in
                    td.where(soundex_col(F.col("term")) == code)
                    .select("term").collect())
        terms = cache[key]
        if not terms:
            return self.spark.createDataFrame(
                [], "doc_id long, path string, score double")
        return terms_set_query(self, repo, terms, field=field, limit=limit)

    def _phonetic_route(self) -> bool:
        """True when phonetic lookups should use the ``phonetic_codes``
        sidecar (mirrors :meth:`_gram_route`'s policy for spell_grams)."""
        if self.phonetic_expand == "sidecar":
            return True
        if self.phonetic_expand == "scan":
            return False
        return self.pins is None and self._term_dict_local() is None

    def _phonetic_codes_df(self) -> DataFrame:
        """The persisted ``phonetic_codes`` sidecar: one row per (field,
        term, soundex).  Built lazily ONCE per term_dict snapshot
        (staleness tracked via a snapshot property), files
        range-partitioned and sorted by (field, soundex) so the pushed
        ``soundex = 'X000'`` equality prunes at file + row-group level —
        a phonetic lookup reads only its own code bucket, never the
        vocabulary.  This is the analyzers-phonetic analogue of the
        ``spell_grams`` plan (PhoneticFilter over a term index instead of
        per-query code computation; the 5.2 module family ships the
        filter, reference module set: service/build.gradle:13-15)."""
        from lucene_plugin_spark.analysis.phonetic import soundex_col
        td_sid = self.catalog.table("term_dict").current_snapshot_id()
        tbl = self.catalog.table("phonetic_codes")
        if (tbl.exists()
                and tbl.snapshot().properties.get("source_term_dict")
                == td_sid):
            return tbl.read(self.spark)
        # build from the EXACT snapshot being stamped (not the reader's
        # possibly-pinned view): a tag-pinned engine forced onto the
        # sidecar must never persist pinned-vocabulary rows under the
        # current snapshot's stamp, where unpinned readers would reuse them
        codes = (self.catalog.table("term_dict").read(self.spark, td_sid)
                 .select("field", "term",
                         soundex_col(F.col("term")).alias("soundex"))
                 .where(F.col("soundex") != ""))
        tbl.overwrite(
            codes.repartitionByRange(F.col("field"), F.col("soundex"))
            .sortWithinPartitions("field", "soundex", "term"),
            lineage={"source": "term_dict", "snapshot": td_sid},
            properties={"source_term_dict": td_sid})
        return tbl.read(self.spark)

    #: character-n-gram blocking parameters for spellcheck candidate
    #: generation.  Pigeonhole (q-gram count filter): ed(a,b) <= d implies
    #: the strings share >= max(|a|,|b|) - n + 1 - d*n n-grams, so whenever
    #: max(|a|,|b|) >= n*(d+1) they share at least ONE — terms of length >=
    #: SPELL_LONG_MIN (= n*(d_max+1) with n=2, d_max=2) are keyed by their
    #: distinct 2-grams; shorter terms live in a single '' bucket probed
    #: only for short query terms (the only ones the band lets reach them).
    SPELL_NGRAM = 2
    SPELL_LONG_MIN = 6

    def _spell_grams_df(self) -> DataFrame:
        """The persisted ``spell_grams`` sidecar: one row per (field, term,
        distinct 2-gram) for long terms, one ''-bucket row per short term,
        carrying (len, cf).  Built lazily ONCE per term_dict snapshot
        (staleness tracked via a snapshot property), files range-partitioned
        and sorted by (field, gram) so a literal ``gram IN (...)`` predicate
        prunes at file + row-group level — the query reads only the
        row-group ranges covering its own grams, never the vocabulary.
        This is the DirectSpellChecker FST-neighbourhood analogue the band
        scan lacked at 10^12-doc vocabulary scale."""
        td_sid = self.catalog.table("term_dict").current_snapshot_id()
        tbl = self.catalog.table("spell_grams")
        if (tbl.exists()
                and tbl.snapshot().properties.get("source_term_dict") == td_sid
                and tbl.snapshot().properties.get("format") == "2"):
            return tbl.read(self.spark)
        n, lmin = self.SPELL_NGRAM, self.SPELL_LONG_MIN
        grams = F.when(
            F.length("term") >= lmin,
            F.array_distinct(F.expr(
                f"transform(sequence(0, length(term)-{n}), "
                f"i -> substring(term, i+1, {n}))"))
        ).otherwise(F.array(F.lit("")))
        # format 2 adds df so gram-leaf expansion (_expand_gram_leaves) can
        # fill the df cache without a second term_dict scan.  Read the
        # EXACT snapshot being stamped, not the reader's possibly-pinned
        # view (same poisoning guard as _phonetic_codes_df)
        spell = (self.catalog.table("term_dict").read(self.spark, td_sid)
                 .select("field", "term", F.length("term").alias("len"),
                         F.col("df").cast("bigint").alias("df"),
                         F.col("cf").cast("bigint").alias("cf"),
                         F.explode(grams).alias("gram")))
        tbl.overwrite(
            spell.repartitionByRange(F.col("field"), F.col("gram"))
            .sortWithinPartitions("field", "gram", "term"),
            lineage={"source": "term_dict", "snapshot": td_sid},
            properties={"source_term_dict": td_sid, "format": "2"})
        return tbl.read(self.spark)

    #: vocabulary rows below which spellcheck answers entirely driver-side
    #: (gram-indexed candidates + local Levenshtein, zero Spark jobs) — the
    #: same resident-dictionary philosophy as ``td_local_max_rows`` but
    #: tighter, because the driver path builds a gram -> term-ids postings
    #: dict (~10 entries/term) and runs Python-level edit distance on the
    #: survivors.
    spell_driver_max_rows = 200_000

    def _spell_local_index(self, field: str):
        """(terms, lens, cf, gram->ids, short_ids) over the driver-resident
        dictionary for ``field``, or None when the vocabulary exceeds
        ``spell_driver_max_rows`` (then the distributed paths take over).
        Built lazily once per engine (= per snapshot), cached per field."""
        cached = self._spell_local_idx.get(field, None)
        if cached is not None:
            return cached if cached != "none" else None
        tdl = self._term_dict_local()
        if tdl is None or len(tdl) > self.spell_driver_max_rows:
            self._spell_local_idx[field] = "none"
            return None
        sub = tdl[tdl["field"] == field]
        terms = sub["term"].astype(str).tolist()
        cfs = sub["cf"].astype("int64").tolist()
        n, lmin = self.SPELL_NGRAM, self.SPELL_LONG_MIN
        grams: dict[str, list[int]] = {}
        short: list[int] = []
        for i, t in enumerate(terms):
            if len(t) >= lmin:
                for g in {t[j:j + n] for j in range(len(t) - n + 1)}:
                    grams.setdefault(g, []).append(i)
            else:
                short.append(i)
        idx = (terms, [len(t) for t in terms], cfs, grams, short)
        self._spell_local_idx[field] = idx
        return idx

    def _spellcheck_driver(self, idx, terms: list[str], max_dist: int,
                           per_term: int) -> DataFrame:
        """Driver fast path: gram-union candidates (same pigeonhole bound as
        the sidecar join) + local DP Levenshtein; one createDataFrame, zero
        distributed jobs.  Bit-identical ranking to the cluster paths
        (pytest-gated three-way)."""
        vocab, lens, cfs, grams, short = idx
        n = self.SPELL_NGRAM
        out: list[tuple[str, str, int, int]] = []
        for qt in terms:
            cand: set[int] = set()
            for j in range(len(qt) - n + 1):
                cand.update(grams.get(qt[j:j + n], ()))
            if len(qt) <= (self.SPELL_LONG_MIN - 1) + max_dist:
                cand.update(short)
            scored = []
            for i in cand:
                if abs(lens[i] - len(qt)) > max_dist:
                    continue
                d = _levenshtein(qt, vocab[i])
                if d <= max_dist:
                    scored.append((d, -cfs[i], vocab[i]))
            scored.sort()
            out += [(qt, t, d, -ncf) for d, ncf, t in scored[:per_term]]
        out.sort(key=lambda r: r[0])  # stable: keeps rank order per qterm
        pdf = pd.DataFrame(out, columns=["qterm", "suggestion", "dist", "cf"])
        pdf["dist"] = pdf["dist"].astype("int64")
        pdf["cf"] = pdf["cf"].astype("int64")
        # pandas -> Arrow conversion path: ~10x cheaper to materialize than
        # the list-of-tuples RDD inference route
        return self.spark.createDataFrame(
            pdf, "qterm string, suggestion string, dist long, cf long")

    def spellcheck(self, terms: list[str], field: str = "text",
                   max_dist: int = 2, per_term: int = 1,
                   strategy: str = "auto") -> DataFrame:
        """Spelling correction (lucene-suggest DirectSpellChecker analogue):
        for each query term, the best index term(s) within ``max_dist``
        Levenshtein edits, ranked by (distance asc, cf desc, term asc).

        Three candidate-generation strategies, chosen by vocabulary size
        under ``strategy="auto"`` (the DirectSpellChecker FST-neighbourhood
        idea mapped to Spark); ``strategy="driver"|"gram"|"band"`` forces
        one (identical output, pytest- and oracle-gated):

        - ``driver`` (auto: vocabulary <= ``spell_driver_max_rows``): fully
          driver-side — a resident gram->terms postings dict plus local
          Levenshtein, zero Spark jobs (the same resident-dictionary fast
          path term queries use);
        - ``gram`` (auto: larger vocabularies): equi-join on (field,
          character 2-gram) against the persisted ``spell_grams`` sidecar
          (see ``_spell_grams_df``) — the query's gram set is a driver-side
          literal, so ``gram IN (...)`` pushes into the parquet scan and
          prunes to the row groups holding those grams; candidate cost is
          bounded by the grams' posting sizes, never the vocabulary;
        - ``band`` (auto: ``max_dist > 2`` — pigeonhole bound void — or
          tag-pinned readers whose pins may predate the sidecar):
          length-banded broadcast scan of the dictionary — exact for any
          distance, O(vocabulary).

        All three produce identical output; the gram paths are lossless
        for ``max_dist <= 2`` by the q-gram count filter, with terms
        shorter than ``SPELL_LONG_MIN`` covered by the '' bucket.

        Returns DataFrame(qterm, suggestion, dist, cf).
        """
        if not terms:
            return self.spark.createDataFrame(
                [], "qterm string, suggestion string, dist long, cf long")
        if strategy == "band":
            return self._spellcheck_bandscan(terms, field, max_dist, per_term)
        if strategy == "gram":
            if max_dist > 2:
                raise ValueError("gram blocking is lossless only for "
                                 f"max_dist <= 2, got {max_dist}")
            return self._spellcheck_gram_join(terms, field, max_dist,
                                              per_term)
        if strategy == "driver":
            idx = self._spell_local_index(field)
            if idx is None or max_dist > 2:
                raise ValueError("driver spellcheck needs a resident "
                                 "dictionary and max_dist <= 2")
            return self._spellcheck_driver(idx, terms, max_dist, per_term)
        if strategy != "auto":
            raise ValueError(f"unknown spellcheck strategy {strategy!r}")
        if max_dist > 2:
            return self._spellcheck_bandscan(terms, field, max_dist, per_term)
        idx = self._spell_local_index(field)
        if idx is not None:
            return self._spellcheck_driver(idx, terms, max_dist, per_term)
        if self.pins is not None:
            return self._spellcheck_bandscan(terms, field, max_dist, per_term)
        return self._spellcheck_gram_join(terms, field, max_dist, per_term)

    def _spellcheck_gram_join(self, terms: list[str], field: str,
                              max_dist: int, per_term: int) -> DataFrame:
        """Distributed gram-blocked candidate join over the ``spell_grams``
        sidecar (see ``spellcheck``); the 100 TB-vocabulary path."""
        n = self.SPELL_NGRAM
        qrows: list[tuple[str, str]] = []
        for t in terms:
            qrows += [(t, g) for g in
                      sorted({t[i:i + n] for i in range(len(t) - n + 1)})]
            if len(t) <= (self.SPELL_LONG_MIN - 1) + max_dist:
                qrows.append((t, ""))  # short index terms live in '' bucket
        q = self.spark.createDataFrame(qrows, "qterm string, gram string")
        all_grams = sorted({g for _, g in qrows})
        sg = self._spell_grams_df()
        cand = (sg.where((F.col("field") == field)
                         & F.col("gram").isin(all_grams))
                .join(F.broadcast(q), "gram")
                .where(F.abs(F.col("len") - F.length("qterm"))
                       <= F.lit(max_dist))
                .select("qterm", "term", "cf").distinct()
                .withColumn("dist", F.levenshtein("qterm", "term"))
                .where(F.col("dist") <= max_dist))
        return self._spell_rank(cand, per_term)

    def _spellcheck_bandscan(self, terms: list[str], field: str,
                             max_dist: int, per_term: int) -> DataFrame:
        """Fallback candidate generation: length-banded broadcast join over
        the full term dictionary (exact for any ``max_dist``; O(vocabulary)
        scan — the gram sidecar path avoids this at scale)."""
        q = self.spark.createDataFrame([(t,) for t in terms], "qterm string")
        td = self._term_dict_df().where(F.col("field") == field)
        band = (F.abs(F.length("term") - F.length("qterm"))
                <= F.lit(max_dist))
        cand = (td.join(F.broadcast(q), band)
                .withColumn("dist", F.levenshtein("qterm", "term"))
                .where(F.col("dist") <= max_dist))
        return self._spell_rank(cand, per_term)

    @staticmethod
    def _spell_rank(cand: DataFrame, per_term: int) -> DataFrame:
        w = Window.partitionBy("qterm").orderBy(
            F.asc("dist"), F.desc("cf"), F.asc("term"))
        return (cand.withColumn("_rn", F.row_number().over(w))
                .where(F.col("_rn") <= per_term)
                .select("qterm", F.col("term").alias("suggestion"),
                        F.col("dist").cast("bigint").alias("dist"),
                        F.col("cf").cast("bigint").alias("cf"))
                .orderBy("qterm", "_rn"))

    def search_many(self, queries: list[tuple[str, str | None, str]],
                    limit: int = 10) -> DataFrame:
        """Batched top-k search: several searches through the one route
        (:meth:`_route`), as on one Lucene ``IndexSearcher``.

        ``queries``: [(query_id, repo_or_None, query_string)], any query
        :meth:`search` accepts.  Returns DataFrame(query_id, doc_id, path,
        score), per-query score desc / doc_id asc, truncated to ``limit`` —
        identical to search() per query.  One term_dict prefetch serves the
        batch; driver-route queries are scored inside this call, the rest
        share ONE distributed job.  Identical (repo, query) entries are
        scored once and fanned out to every query_id.
        """
        self._prefetch_queries(queries)
        stats = self._field_stats()
        items: list = []
        item_of: dict[tuple[str | None, str], int | None] = {}
        fan: list[tuple[int, str]] = []     # (item, query_id) per entry
        for qid, repo, q in queries:
            if (repo, q) not in item_of:
                cq = self._compile_query(
                    parse_query(q, variant=self.analyzer), repo)
                item_of[(repo, q)] = None if cq is None else len(items)
                if cq is not None:
                    items.append((cq, _query_scorer(cq, stats)))
            if item_of[(repo, q)] is not None:
                fan.append((item_of[(repo, q)], qid))
        schema = "query_id string, doc_id long, path string, score double"
        local, dist = self._route(items, limit) if items else ({}, None)
        out = None
        if local:
            res = pd.concat([local[qi].assign(query_id=qid)
                             for qi, qid in fan if qi in local],
                            ignore_index=True)
            pm = self._path_map
            res["path"] = [pm.get(int(d)) for d in res["doc_id"]]
            out = self.spark.createDataFrame(
                res[["query_id", "doc_id", "path", "score"]], schema)
        if dist is not None:
            # SQL-string window: the Window/F.desc object chain costs ~10
            # py4j round-trips of serial driver time per batch
            topk = (dist.selectExpr(
                        "*", "row_number() OVER (PARTITION BY qi "
                        "ORDER BY score DESC, doc_id ASC) AS _rn")
                    .where(f"_rn <= {int(limit)}").drop("_rn"))
            qids = self.spark.createDataFrame(
                [(qi, qid) for qi, qid in fan if qi not in local],
                "qi long, query_id string")
            d = (topk.join(F.broadcast(qids), "qi")
                 .select("query_id", "doc_id", "path", "score"))
            out = d if out is None else out.unionByName(d)
        if out is None:
            return self.spark.createDataFrame([], schema)
        return out.orderBy("query_id", F.desc("score"), F.asc("doc_id"))

    def serve_stream(self, batches, limit: int = 10, action=None,
                     depth: int = 2) -> list:
        """Serve a stream of query batches with compile/execute overlap.

        ``batches``: iterable of query lists, each shaped like
        :meth:`search_many`'s input.  While the cluster executes batch i's
        job (background threads drive the action), the driver compiles the
        next batches — parse, term_dict prefetch, kernel-closure
        construction.  Driver-route queries score inside each
        :meth:`search_many` call, so only the distributed share of a batch
        overlaps.  This is the deployment shape for a continuous query
        stream: the serial driver cost moves off the critical path instead
        of flattening batch scaling at high core counts.

        Two pipelining levers on top of per-batch compile overlap:

        - **admission batching**: when the stream is already materialized
          (a list/tuple), ONE merged term_dict prefetch job warms the
          df/cf/range caches for every batch up front — 1 driver-side
          Spark job instead of one per batch;
        - **``depth``-deep job pipeline**: up to ``depth`` batch jobs are
          in flight at once, so the tail of job i (straggler tasks leaving
          executor slots idle) backfills with the head of job i+1.  Results
          still return in batch order; rankings are identical to calling
          :meth:`search_many` per batch (same plans, pytest-gated).
        """
        from concurrent.futures import ThreadPoolExecutor
        act = action or (lambda df: df.collect())
        if isinstance(batches, (list, tuple)) and len(batches) > 1:
            self._prefetch_queries([q for b in batches for q in b])
        results = []
        with ThreadPoolExecutor(max_workers=max(1, depth)) as pool:
            futs: list = []
            for b in batches:
                df = self.search_many(b, limit=limit)
                while len(futs) >= max(1, depth):
                    results.append(futs.pop(0).result())
                futs.append(pool.submit(act, df))
            for f in futs:
                results.append(f.result())
        return results

    def _prefetch_queries(self, queries: list[tuple[str, str | None, str]]
                          ) -> None:
        """ONE term_dict prefetch (:meth:`_prefetch_batch`) over the leaves
        of every distinct query string of a batch or a materialized stream:
        the df/cf/range caches are filled up front, so each query's compile
        is driver-side dict lookups — one Spark job per batch, not one per
        range query (per-job fixed cost is serial driver time that does not
        shrink with cores)."""
        ranges: list = []
        pairs: set[tuple[str, str]] = set()
        for q in dict.fromkeys(q for _qid, _repo, q in queries):
            for l in iter_all_leaves(parse_query(q, variant=self.analyzer)):
                if isinstance(l, EXPANDABLE):
                    ranges.append(l)
                elif isinstance(l, Term):
                    pairs.add((l.field, l.term))
                else:
                    pairs.update((l.field, t) for t in l.terms)
        self._prefetch_batch(ranges, pairs)

    # ------------------------------------------------ declarative operators
    def _finalize_df_hits(self, agg: DataFrame, repo: str | None) -> DataFrame:
        """liveDocs (tombstone anti-join) and the collection docID-range
        filter for the operators still written as DataFrame plans over the
        flat postings view (``query/advanced.py``, ``query/results.py``);
        every per-slice scorer gets both from :meth:`_route` instead."""
        tt = self._tombstones_table()
        if tt is not None:
            agg = agg.join(self._tbl("tombstones").select("doc_id"), "doc_id", "left_anti")
        if repo is not None:
            ranges = self.repo_doc_ranges(repo)
            if not ranges:
                # empty, with the caller's columns
                return agg.where(F.lit(False))
            cond = None
            for lo, hi in ranges:
                c = (F.col("doc_id") >= lo) & (F.col("doc_id") <= hi)
                cond = c if cond is None else cond | c
            agg = agg.where(cond)
        return agg

    # ----------------------------------------------------------- query route
    def _compile_query(self, node: Node, repo: str | None):
        """Driver-side query compilation for both routes, single and batched
        searches alike: leaves -> specs, term-df lookup, collection
        doc-ranges.  Returns None when the query can match nothing."""
        node = simplify(node)
        dismax_tie = None
        tree = None
        if is_nested(node):
            # nested boolean plan (parenthesized query the flatten rewrites
            # can't legally collapse): compile the recursive spec tree
            range_terms = self._expand_ranges(
                [l for l in iter_all_leaves(node) if isinstance(l, EXPANDABLE)])
            tree, specs = _compile_tree(node, range_terms)
            min_should = 0
        elif isinstance(node, DisMax):
            # DisjunctionMaxQuery: flatten each disjunct separately and tag
            # its leaves with a group id; _score_slice combines per-group
            # sums with max + tie*(sum of others).  Disjuncts are ordinary
            # flat queries (MUST/MUST_NOT inside a disjunct is not a shape
            # any surface builds).
            dismax_tie = float(node.tie)
            specs = []
            min_should = 0
            range_terms = {}
            for gi, dj in enumerate(node.disjuncts):
                s_, m_, n_, f_, _mm = _leaves_of(dj)
                if m_ or n_ or f_:
                    raise ValueError("DisMax disjuncts must be pure "
                                     "should-clause queries")
                rt = self._expand_ranges(s_)
                range_terms.update(rt)
                for sp in _compile_leaf_specs(s_, [], [], rt):
                    sp["leaf_id"] = len(specs)
                    sp["group"] = gi
                    specs.append(sp)
        else:
            should, must, must_not, filters, min_should = _leaves_of(node)
            range_terms = self._expand_ranges(
                should + must + must_not + filters)
            specs = _compile_leaf_specs(should, must, must_not, range_terms,
                                        filters)
        if not any(s["terms"] or s["kind"] == "all"
                   for s in specs if s["polarity"] != "must_not"):
            return None
        all_terms = sorted({(s["field"], t) for s in specs for t in s["terms"]})
        df_map = self._df_for_pairs(all_terms)
        doc_ranges = None
        if repo is not None:
            doc_ranges = self.repo_doc_ranges(repo)
            if not doc_ranges:
                return None
        return {
            "specs": specs,
            "df_map": df_map,
            "pairs": all_terms,
            "pos_pairs": _phrase_pairs(specs),
            "doc_ranges": doc_ranges,
            "needs_positions": any(s["kind"] == "phrase" for s in specs),
            "match_all": any(s["kind"] == "all" for s in specs),
            "min_should": min_should,
            "dismax_tie": dismax_tie,
            "tree": tree,
            "only_terms": (len(specs) > 0 and min_should <= 1
                           and dismax_tie is None and tree is None and all(
                s["kind"] == "term" and s["polarity"] == "should"
                and s.get("boost", 1.0) == 1.0 for s in specs)),
            # work the query will surface, known BEFORE any scan: Σ df per
            # term — except phrase terms, whose cost is the POSITION stream
            # (cf = total occurrences), so a cold hot-term phrase routes to
            # the distributed kernel instead of a single-threaded driver
            # decode of a multi-million-entry stream.  A match-all leaf
            # reads one docID per doc; only a warmed engine, which holds
            # them all in its path map, can take the driver route
            "est_postings": sum(
                max(self._df_cache.get((s["field"], t), 0.0),
                    self._cf_cache.get((s["field"], t), 0.0)
                    if s["kind"] == "phrase" else 0.0)
                for s in specs for t in s["terms"]) + sum(
                len(self._path_map or ()) for s in specs
                if s["kind"] == "all"),
        }

    def _filtered_segments(self, scan) -> DataFrame:
        """The segments scan pruned to a route scan's (field, term) pairs
        and docID ranges, with positions kept only for ``pos_pairs``."""
        fields = sorted({f for f, _ in scan["pairs"]})
        terms = sorted({t for _, t in scan["pairs"]})
        seg = self._segments_df()
        seg = seg.where(f"field IN ({_sql_in_list(fields)}) "
                        f"AND term IN ({_sql_in_list(terms)})")
        if scan["doc_ranges"] is not None:
            # docID ranges -> dslice partition pruning + block-range pruning
            cond = None
            for lo, hi in scan["doc_ranges"]:
                c = (F.col("last_doc") >= lo) & (F.col("first_doc") <= hi)
                cond = c if cond is None else cond | c
            seg = seg.where(cond)
        if not scan["pos_pairs"]:
            # column-prune the positions stream (the bulkiest column) out of
            # the scan — term/range queries never decode it
            seg = seg.drop("positions", "pos_lens_ok")
        else:
            seg = _null_nonphrase_positions(seg, scan["pos_pairs"])
        return seg

    #: driver-route ceiling (read by :meth:`_route` only): operators whose
    #: term dictionary predicts fewer total postings than this are scored on
    #: the driver from one JVM-only filtered collect (the shape of a Lucene
    #: query node).  Above it, the distributed per-slice kernel runs — at
    #: 100 TB hot terms go distributed, tail terms stay sub-second on the
    #: driver.
    driver_exec_max_postings = 8_000_000

    def _route(self, items, limit: int):
        """The one place a scoring operator's route is chosen.

        ``items``: a list of ``(scan, score_slice)``, one per query —
        :meth:`search_many` passes its batch, every other caller one item.
        ``scan``: ``pairs`` (the (field, term) postings read), ``pos_pairs``
        (the subset whose positions are decoded), ``doc_ranges`` (collection
        filter or None), ``est_postings`` (the predicted posting volume) and
        ``match_all`` (the query holds a match-all leaf).
        ``score_slice(idx, norms, dead, doc_ranges, k) -> (ids, scores)``
        is the operator, written once in numpy: ``idx`` a :class:`_SliceIndex`
        over the pairs' blocks, ``norms`` the field -> (ids, dls) lookup,
        ``dead`` the tombstoned docIDs.  Whatever it returns, liveDocs and
        the collection mask are applied here and the (score desc, doc_id
        asc) top-``limit`` is cut.

        Each item takes its own route:

        - **driver** (warmed engine, ``est_postings`` within
          ``driver_exec_max_postings``): every block comes from the driver
          postings cache and the whole block set scores as ONE logical
          slice (docIDs are globally unique).
        - **distributed** (otherwise): the distributed items share one
          ``mapInPandas`` over the segments scan pruned to the union of
          their pairs and doc ranges; each task groups its rows by dslice,
          reads that slice's norms and tombstones task-locally, once, and
          runs every item's scorer on the slice.

        Returns ``(local, dist)``: ``local`` maps an item's index to its
        driver-route top-k as pandas (doc_id, score); ``dist`` is the lazy
        DataFrame (qi, doc_id, path, score) of the distributed items'
        per-slice top-k hits (``qi`` the item index, ``path`` the stored
        path the kernel read from the slice's ``docs_meta`` partition), or
        None when no item is distributed.  Building ``dist`` launches no
        Spark job: the segments read is schema-typed (``Table.read``) and
        docs_meta is read only inside the kernel.

        A match-all query visits every slice in its doc ranges, not only
        the slices its terms touch, with their tombstones; ``idx.all_ids``
        holds the slice's docIDs (driver: the warmed path map; distributed:
        the slice's ``docs_meta`` partition, read task-locally).
        """
        norms_dirs, tomb_dirs = self._sidecar_dirs()
        drv = [qi for qi, (scan, _) in enumerate(items)
               if self._path_map is not None
               and scan["est_postings"] <= self.driver_exec_max_postings]
        if len(drv) > 1:   # the batch's block-cache misses in ONE collect
            self._blocks_for(
                sorted({p for qi in drv for p in items[qi][0]["pairs"]}),
                set().union(*(items[qi][0]["pos_pairs"] for qi in drv)))
        local = {}
        for qi in drv:
            scan, score_slice = items[qi]
            idx, slices = self._blocks_for(scan["pairs"], scan["pos_pairs"])
            live_slices = slices
            if scan["match_all"]:
                idx.all_ids = self._doc_ids()
                live_slices = sorted(set(slices) | set(
                    self._doc_slices(scan["doc_ranges"])))
            elif not idx.entries:
                local[qi] = _empty_hits()
                continue
            fields = tuple(sorted({f for f, _ in scan["pairs"]}))
            norms = self._norm_lookup_for(tuple(slices), fields, norms_dirs)
            dead = _tombstones_of(tomb_dirs, live_slices)
            local[qi] = _slice_topk(score_slice, idx, norms, dead,
                                    scan["doc_ranges"], limit)
        dist = [qi for qi in range(len(items)) if qi not in local]
        if not dist:
            return local, None
        scans = [items[qi][0] for qi in dist]
        union = {"pairs": sorted({p for s in scans for p in s["pairs"]}),
                 "pos_pairs": set().union(*(s["pos_pairs"] for s in scans)),
                 "doc_ranges": None if any(s["doc_ranges"] is None
                                           for s in scans)
                 else sorted({tuple(r) for s in scans
                              for r in s["doc_ranges"]})}
        # No shuffle: scan tasks align with whole segment files (one live
        # file per doc-slice, non-split reads via large maxPartitionBytes in
        # session.py), so each task holds complete doc-slices — all query
        # terms' postings for its doc ranges.  Parquet predicate pushdown on
        # the term-sorted files means a task only reads the query terms' row
        # groups regardless of file size.  Doc lengths come from the
        # dslice-partitioned norms sidecar, read task-locally with pyarrow
        # (the analogue of Lucene reading its per-segment norms file) — no
        # per-query shuffle of corpus-sized data anywhere.
        match_all = any(s["match_all"] for s in scans)
        if not match_all:
            rows = self._filtered_segments(union)
        else:
            # one marker row (dslice only) per slice in the doc ranges, so a
            # slice no query term touches is scored too; the hash exchange
            # on dslice puts a slice's marker and its block rows in ONE task
            slices = self._doc_slices(union["doc_ranges"])
            rows = local_frame(self.spark, [(d,) for d in slices], "dslice int")
            if union["pairs"]:
                rows = self._filtered_segments(union).unionByName(
                    rows, allowMissingColumns=True)
            rows = rows.repartition(
                max(1, min(len(slices),
                           self.spark.sparkContext.defaultParallelism)),
                "dslice")
        kernel = _make_route_kernel(
            [(qi, items[qi][1], items[qi][0]["doc_ranges"]) for qi in dist],
            limit, norms_dirs, sorted({f for f, _ in union["pairs"]}),
            tomb_dirs, self._tbl_snapshot("docs_meta").data_dirs, match_all)
        return local, rows.mapInPandas(kernel, schema=ROUTE_HITS_SCHEMA)

    def _doc_ids(self) -> np.ndarray:
        """Sorted docIDs of every docs_meta row (tombstoned ones too —
        liveDocs drops them), taken once per engine from the warmed path
        map: the driver route's match-all postings."""
        if self._all_ids is None:
            self._all_ids = np.sort(np.fromiter(
                self._path_map, np.int64, len(self._path_map)))
        return self._all_ids

    def _doc_slices(self, doc_ranges) -> list[int]:
        """The docs_meta snapshot's dslice partitions (listed once per
        engine, no Spark job), pruned to those overlapping ``doc_ranges``
        when the slice width is known."""
        if self._meta_slices is None:
            sid = self.pins.get("docs_meta") if self.pins is not None else None
            self._meta_slices = sorted(
                int(v) for (v,) in self.catalog.table(
                    "docs_meta").partition_values(["dslice"], sid))
        w = self._docs_per_slice
        if doc_ranges is None or not w:
            return self._meta_slices
        return [d for d in self._meta_slices
                if any(lo < (d + 1) * w and hi >= d * w
                       for lo, hi in doc_ranges)]

    def _search_postings(self, pairs, repo: str | None, score_slice,
                         limit: int, pos_pairs=frozenset()) -> DataFrame:
        """Top-k DataFrame(doc_id, path, score) of a per-slice numpy scorer
        (:meth:`_route`) over the postings of ``pairs`` — the entry point of
        the operators in ``query/advanced.py``.  The route is predicted
        from Σ df over ``pairs``."""
        doc_ranges = None
        if repo is not None:
            doc_ranges = self.repo_doc_ranges(repo)
            if not doc_ranges:
                return self._with_paths(_empty_hits(), limit)
        scan = {"pairs": sorted(pairs), "pos_pairs": set(pos_pairs),
                "doc_ranges": doc_ranges, "match_all": False,
                "est_postings": sum(self._df_for_pairs(pairs).values())}
        local, dist = self._route([(scan, score_slice)], limit)
        return self._with_paths(local.get(0, dist), limit)

    def _sidecar_dirs(self):
        norms_dirs = self._tbl_snapshot("doc_norms").data_dirs
        tt = self._tombstones_table()
        tomb_dirs = (self._tbl_snapshot("tombstones").data_dirs
                     if tt is not None else [])
        return norms_dirs, tomb_dirs

    def _norms_for_slice(self, dslice: int, fields, norms_dirs) -> pd.DataFrame:
        """Per-slice norms frame with a driver-side cache (the per-segment
        norms file stays hot across queries, like Lucene's norms in page
        cache).  Bounded: cleared wholesale past 4096 slices."""
        key = int(dslice)
        pdf = self._norms_cache.get(key)
        if pdf is None:
            pdf = _read_norms(norms_dirs, key, None)
            if len(self._norms_cache) >= 4096:
                self._norms_cache.clear()
            self._norms_cache[key] = pdf
        return pdf[pdf["field"].isin(fields)]

    def _blocks_for(self, pairs, pos_pairs=frozenset()) -> pd.DataFrame:
        """Block rows for (field, term) pairs via the driver postings cache.
        Misses are fetched in ONE filtered JVM collect; hits cost no job at
        all — hot query terms stay resident like Lucene's postings in page
        cache.  Bounded (~2M block rows), cleared wholesale when full.

        ``pos_pairs``: the subset whose position streams are needed (phrase
        terms).  Other pairs' positions are nulled JVM-side before the
        collect — a mixed phrase+hot-term query no longer pulls the hot
        term's position streams to the driver."""
        missing = []
        for p_ in pairs:
            ent = self._blocks_cache.get(p_)
            if ent is None or (p_ in pos_pairs and not ent["has_pos"]):
                missing.append(p_)
        if missing:
            seg = self._segments_df()
            f_ = sorted({f for f, _ in missing})
            t_ = sorted({t for _, t in missing})
            seg = seg.where(f"field IN ({_sql_in_list(f_)}) "
                            f"AND term IN ({_sql_in_list(t_)})")
            miss_pos = {p_ for p_ in missing if p_ in pos_pairs}
            if not miss_pos:
                seg = seg.drop("positions", "pos_lens_ok")
            else:
                seg = _null_nonphrase_positions(seg, miss_pos)
            fetched = seg.toPandas()
            if self._blocks_cache_rows + len(fetched) > 2_000_000:
                self._blocks_cache.clear()
                self._blocks_cache_rows = 0
            grouped = ({k: g for k, g in fetched.groupby(["field", "term"], sort=False)}
                       if len(fetched) else {})
            for p_ in missing:
                g = grouped.get(p_)
                ent = _SliceIndex(g).entries.get(p_) if g is not None else None
                old = self._blocks_cache.get(p_)
                if old is not None:  # refetch (e.g. positions upgrade):
                    self._blocks_cache_rows -= old["rows"]  # replace, not add
                rows = len(g) if g is not None else 0
                self._blocks_cache[p_] = {"ent": ent, "has_pos": p_ in miss_pos,
                                          "rows": rows}
                self._blocks_cache_rows += rows
        entries = {}
        dslices: set = set()
        for p_ in pairs:
            cached = self._blocks_cache.get(p_)
            if cached is not None and cached["ent"] is not None:
                entries[p_] = cached["ent"]
                dslices |= cached["ent"]["dslices"]
        return _SliceIndex.from_entries(entries), sorted(dslices)

    def _norm_lookup_for(self, slices: tuple, fields: tuple, norms_dirs) -> dict:
        """Prebuilt field->(sorted ids, dls) lookup for a slice set, cached —
        hot queries touch the same slices and skip the concat+argsort."""
        key = (slices, fields)
        hit = self._norm_lookup_cache.get(key)
        if hit is None:
            pdf = pd.concat(
                [self._norms_for_slice(d, list(fields), norms_dirs) for d in slices],
                ignore_index=True) if slices else pd.DataFrame(
                    {"field": [], "doc_id": [], "dl": []})
            hit = _build_norm_lookup(pdf)
            if len(self._norm_lookup_cache) >= 64:
                self._norm_lookup_cache.clear()
            self._norm_lookup_cache[key] = hit
        return hit


def _slice_files(data_dirs: list, dslice: int) -> list[str]:
    """Parquet files of one doc-slice's partition of a dslice-partitioned
    table.  ``data_dirs`` are snapshot data-dir entries (str roots or
    partition-dir dicts from partition-level commits)."""
    import glob

    from lucene_plugin_spark.storage.catalog import partition_data_dirs
    return [f for part in partition_data_dirs(data_dirs, "dslice", dslice)
            for f in glob.glob(os.path.join(part, "*.parquet"))]


def _read_norms(norms_dirs: list, dslice: int, fields: list[str]) -> pd.DataFrame:
    """Task-local read of the doc_norms sidecar partition for one doc-slice."""
    import pyarrow.parquet as pq

    frames = [pq.read_table(f, columns=["field", "doc_id", "dl"]).to_pandas()
              for f in _slice_files(norms_dirs, dslice)]
    if not frames:
        return pd.DataFrame({"field": [], "doc_id": [], "dl": []})
    out = pd.concat(frames, ignore_index=True)
    if fields is None:
        return out
    return out[out["field"].isin(fields)]


def _read_doc_ids(data_dirs: list, dslice: int) -> np.ndarray:
    """Task-local read of the sorted unique docIDs in one slice's partition
    of a dslice-partitioned table: ``tombstones`` (the liveDocs mask) or
    ``docs_meta`` (every doc of the slice, for match-all)."""
    import pyarrow.parquet as pq

    parts = [pq.read_table(f, columns=["doc_id"])["doc_id"].to_numpy()
             for f in _slice_files(data_dirs, dslice)]
    if not parts:
        return np.empty(0, np.int64)
    return np.unique(np.concatenate(parts)).astype(np.int64)


def _read_paths(meta_dirs: list, dslice: int, ids: np.ndarray) -> np.ndarray:
    """Task-local read of the stored paths of ``ids`` (docIDs of slice
    ``dslice``), in ``ids`` order: one pyarrow read of the slice's
    docs_meta partition filtered to those ids (None where docs_meta has no
    row)."""
    import pyarrow.dataset as pads

    files = _slice_files(meta_dirs, dslice)
    out = np.full(len(ids), None, dtype=object)
    if not files or not len(ids):
        return out
    t = pads.dataset(files, format="parquet").to_table(
        columns=["doc_id", "path"],
        filter=pads.field("doc_id").isin(np.unique(ids)))
    have = t["doc_id"].to_numpy()
    if not len(have):
        return out
    order = np.argsort(have, kind="stable")
    have = have[order]
    pos = np.minimum(np.searchsorted(have, ids), len(have) - 1)
    hit = have[pos] == ids
    out[hit] = t["path"].to_numpy(zero_copy_only=False)[order][pos[hit]]
    return out


def _tombstones_of(tomb_dirs: list, slices) -> np.ndarray | None:
    """Tombstoned docIDs of a slice set, sorted (None: nothing to mask)."""
    if not tomb_dirs or not slices:
        return None
    return np.unique(np.concatenate(
        [_read_doc_ids(tomb_dirs, d) for d in slices]))


def _levenshtein(a: str, b: str) -> int:
    """Plain DP edit distance (driver-side spellcheck path; candidate sets
    are gram-pruned before this runs, so inputs are few and short)."""
    if a == b:
        return 0
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[-1] + 1,
                           prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


def _phrase_pairs(specs) -> set[tuple[str, str]]:
    """(field, term) pairs whose positions a spec list will actually decode."""
    return {(s["field"], t) for s in specs if s["kind"] == "phrase"
            for t in s["terms"]}


def _sql_in_list(values) -> str:
    """Escaped SQL IN-list body for a list of strings (single round-trip
    filter construction; Column.isin pays one py4j call per literal)."""
    return ",".join("'" + v.replace("'", "''") + "'" for v in values)


def _null_nonphrase_positions(seg: DataFrame, phrase_pairs) -> DataFrame:
    """NULL the positions/pos_lens_ok columns for rows no phrase will touch.

    A batch with one phrase query would otherwise ship the bulkiest column
    (the position streams) for EVERY matched term — including df≈100% code
    tokens from plain term queries.  A per-row CASE keeps the scan single
    (whole doc-slices stay within one task, which per-slice scoring and the
    per-slice top-k rely on) while the Arrow transfer to the Python kernel
    carries nulls (a validity bit) instead of the raw streams.  Kernel
    decode is unaffected: only phrase specs request positions, and their
    (field, term) rows keep them."""
    if not phrase_pairs or "positions" not in seg.columns:
        return seg
    pf = sorted({f for f, _ in phrase_pairs})
    pt = sorted({t for _, t in phrase_pairs})
    # one SQL-string expr per column: the isin()-of-literals form costs a
    # py4j round-trip per literal, which is serial driver time on every
    # batch (small-core scaling tax)
    pcond = (f"field IN ({_sql_in_list(pf)}) AND term IN ({_sql_in_list(pt)})")
    return seg.withColumns({
        "positions": F.expr(f"CASE WHEN {pcond} THEN positions END"),
        "pos_lens_ok": F.expr(f"CASE WHEN {pcond} THEN pos_lens_ok END")})


def _slice_topk(score_slice, idx, norms, dead, doc_ranges, k) -> pd.DataFrame:
    """Run a route scorer on one slice (or the driver's one logical slice):
    liveDocs + collection mask, then the (score desc, doc_id asc) top-k."""
    ids, scores = score_slice(idx, norms, dead, doc_ranges, k)
    keep = _in_ranges(ids, doc_ranges, dead)
    ids, scores = ids[keep], scores[keep]
    order = np.lexsort((ids, -scores))[:k]
    return pd.DataFrame({"doc_id": ids[order].astype(np.int64),
                         "score": scores[order].astype(np.float64)})


def _make_route_kernel(items, k, norms_dirs, fields, tomb_dirs, meta_dirs,
                       match_all=False):
    """The distributed route's per-task kernel (closure shipped to
    executors).  Input: arrow batches of segment block rows; a task's rows
    are whole doc-slices.  ``items``: ``(qi, score_slice, doc_ranges)`` per
    distributed query.  Per slice the :class:`_SliceIndex`, the norms
    lookup and the tombstones are built ONCE, then every item's scorer runs
    on them with its own doc ranges.  Output: each item's top-k
    (qi, doc_id, path, score) per slice; once every item has scored, the
    paths of the union of their hits come from ONE filtered read of the
    slice's partition of ``meta_dirs`` (the engine's docs_meta snapshot,
    tag pins included) — no docs_meta join after the kernel.

    ``match_all`` (some item holds a match-all leaf): the slice's docIDs
    are read from ``meta_dirs`` too, and the input also holds one marker
    row per slice (dslice only, no term)."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        frames = [b for b in batches if len(b)]
        if not frames:
            return
        pdf = pd.concat(frames, ignore_index=True)
        for dslice, sl in pdf.groupby("dslice", sort=False):
            norms = (_build_norm_lookup(_read_norms(norms_dirs, int(dslice),
                                                    fields))
                     if fields else {})
            dead = (_read_doc_ids(tomb_dirs, int(dslice))
                    if tomb_dirs else None)
            if not match_all:
                idx = _SliceIndex(sl)
            else:
                idx = _SliceIndex(sl[sl["term"].notna()]
                                  if "term" in sl else sl.iloc[:0])
                idx.all_ids = _read_doc_ids(meta_dirs, int(dslice))
            outs = []
            for qi, score_slice, doc_ranges in items:
                out = _slice_topk(score_slice, idx, norms, dead, doc_ranges, k)
                if len(out):
                    out.insert(0, "qi", qi)
                    outs.append(out)
            if outs:
                hits = pd.concat(outs, ignore_index=True)
                hits.insert(2, "path", _read_paths(
                    meta_dirs, int(dslice), hits["doc_id"].to_numpy()))
                yield hits

    return kernel


def _query_scorer(cq, stats):
    """Route scorer of a compiled query (:meth:`SearchEngine._compile_query`).
    Pure-OR term queries go through the block-max WAND path
    (_score_slice_wand): exact scoring proceeds in descending upper-bound
    order and stops once the next doc's bound cannot beat the running k-th
    score, so low-bound blocks' tf streams are never decoded (SURVEY.md §4
    P6).  Everything else runs the general kernel (_score_slice)."""
    specs, df_map = cq["specs"], cq["df_map"]
    only_terms, needs_positions = cq["only_terms"], cq["needs_positions"]
    min_should, dismax_tie, tree = (cq["min_should"], cq["dismax_tie"],
                                    cq["tree"])

    def score(idx, norms, dead, doc_ranges, k):
        if only_terms:
            out = _score_slice_wand(idx, norms, specs, df_map, stats,
                                    doc_ranges, k, dead=dead)
        else:
            out = _score_slice(idx, norms, specs, df_map, stats, doc_ranges,
                               k, needs_positions, dead=dead,
                               min_should=min_should, dismax_tie=dismax_tie,
                               tree=tree)
        if out is None or not len(out):
            return np.empty(0, np.int64), np.empty(0, np.float64)
        return out["doc_id"].to_numpy(np.int64), out["score"].to_numpy(np.float64)

    return score


class _SliceIndex:
    """Per-slice inverted access to segment block rows.

    Groups the slice's rows by (field, term) ONCE and caches every decode, so
    when many queries score against the same slice (a batch's distributed
    queries in the route kernel, the driver postings cache) the per-query
    cost is dict lookups + scoring math — none of the frame scans, sorts, or
    varint decodes repeat.  Lazy tf blocks
    (``tf_parts``) are shared too: a block decoded for one query is free for
    the next (the WAND guarantee only ever shrinks the decoded set).

    ``all_ids``: the slice's sorted docIDs from ``docs_meta``, set only for
    queries holding a match-all leaf.
    """
    __slots__ = ("entries", "all_ids")

    def __init__(self, sl: pd.DataFrame):
        self.entries: dict = {}
        self.all_ids: np.ndarray | None = None
        if not len(sl):
            return
        f = sl["field"].to_numpy()
        t = sl["term"].to_numpy()
        fd = sl["first_doc"].to_numpy()
        order = np.lexsort((fd, t, f))
        f_s, t_s = f[order], t[order]
        nb = np.ones(len(order), dtype=bool)
        nb[1:] = (f_s[1:] != f_s[:-1]) | (t_s[1:] != t_s[:-1])
        starts = np.flatnonzero(nb)
        ends = np.append(starts[1:], len(order))
        dc = sl["doc_count"].to_numpy()
        bmt = sl["block_max_tf"].to_numpy()
        bmd = sl["block_min_dl"].to_numpy()
        gaps = sl["doc_gaps"].to_numpy()
        tfs_col = sl["tfs"].to_numpy()
        pos_col = sl["positions"].to_numpy() if "positions" in sl.columns else None
        for a, b in zip(starts, ends):
            rid = order[a:b]
            self.entries[(f_s[a], t_s[a])] = {
                "doc_count": np.asarray(dc[rid], dtype=np.int64),
                "block_max_tf": np.asarray(bmt[rid], dtype=np.int64),
                "block_min_dl": np.asarray(bmd[rid], dtype=np.int64),
                "doc_gaps": [gaps[i] for i in rid],
                "tf_raw": [tfs_col[i] for i in rid],
                "pos_raw": [pos_col[i] for i in rid] if pos_col is not None else None,
                "tf_parts": [None] * len(rid),
                "dslices": (set(np.unique(sl["dslice"].to_numpy()[rid]).tolist())
                            if "dslice" in sl.columns else set()),
                "_ids": None, "_tf": None, "_pos": None,
            }

    @classmethod
    def from_entries(cls, entries: dict) -> "_SliceIndex":
        """Compose an index from prebuilt per-term entries (driver postings
        cache).  Decode results live INSIDE each entry, so composition shares
        every decode with past and future queries touching the same term."""
        out = cls.__new__(cls)
        out.entries = entries
        out.all_ids = None
        return out

    def blocks(self, field: str, term: str):
        return self.entries.get((field, term))

    def ids_only(self, field: str, term: str) -> np.ndarray:
        """Decode docIDs only (tf streams stay lazy for WAND)."""
        ent = self.entries.get((field, term))
        if ent is None:
            return np.empty(0, np.int64)
        if ent["_ids"] is None:
            ent["_ids"] = codec.decode_ids_concat(ent["doc_gaps"], ent["doc_count"])
        return ent["_ids"]

    def decoded(self, field: str, term: str, want_positions: bool):
        """(ids, tfs, positions|None), fully decoded and cached."""
        ent = self.entries.get((field, term))
        if ent is None:
            return (np.empty(0, np.int64), np.empty(0, np.int64), None)
        ids = self.ids_only(field, term)
        if ent["_tf"] is None:
            ent["_tf"] = codec.varint_decode(b"".join(ent["tf_raw"])).astype(np.int64)
        if not want_positions:
            return (ids, ent["_tf"], None)
        if ent["_pos"] is None and ent["pos_raw"] is not None:
            ent["_pos"] = codec.decode_positions(b"".join(ent["pos_raw"]), ent["_tf"])
        return (ids, ent["_tf"], ent["_pos"])

    def decoded_selective(self, field: str, term: str,
                          cand_ids: np.ndarray):
        """(ids, tfs, positions) restricted to the BLOCKS that contain any
        candidate doc — the phrase path's Lucene-style lazy position read.

        DocID and tf streams decode fully (cheap, needed to find blocks and
        build keys); the bulky position stream decodes only for selected
        blocks, in ONE concatenated codec call.  Falls back to the cached
        full decode when it already exists.  Extra docs sharing a selected
        block ride along harmlessly (phrase intersection drops them)."""
        ent = self.entries.get((field, term))
        if ent is None:
            return (np.empty(0, np.int64), np.empty(0, np.int64), None)
        if ent["_pos"] is not None or ent["pos_raw"] is None:
            return self.decoded(field, term, True)
        ids = self.ids_only(field, term)
        if ent["_tf"] is None:
            ent["_tf"] = codec.varint_decode(b"".join(ent["tf_raw"])).astype(np.int64)
        tf = ent["_tf"]
        counts = ent["doc_count"]
        bounds = np.concatenate(([0], np.cumsum(counts)))
        firsts = ids[bounds[:-1]]
        lasts = ids[bounds[1:] - 1]
        cand = np.asarray(cand_ids, dtype=np.int64)
        if cand.size == 0:
            return (np.empty(0, np.int64), np.empty(0, np.int64),
                    np.empty(0, np.int64))
        # block b overlaps candidates iff some cand in [firsts[b], lasts[b]]
        i = np.searchsorted(cand, firsts)
        sel = np.flatnonzero((i < cand.size)
                             & (cand[np.minimum(i, cand.size - 1)] <= lasts))
        if sel.size == 0:
            return (np.empty(0, np.int64), np.empty(0, np.int64),
                    np.empty(0, np.int64))
        if sel.size * 2 >= len(counts):
            # most blocks needed: full decode once, cached for every later
            # phrase touching this term
            return self.decoded(field, term, True)
        # per-block position cache: repeats of this (or another) phrase
        # re-assemble from decoded chunks instead of re-running the codec
        cache = ent.setdefault("_pos_blocks", {})
        missing = [b for b in sel.tolist() if b not in cache]
        if missing:
            tf_miss = np.concatenate([tf[bounds[b]:bounds[b + 1]]
                                      for b in missing])
            dec = codec.decode_positions(
                b"".join(ent["pos_raw"][b] for b in missing), tf_miss)
            off = 0
            for b in missing:
                n = int(tf[bounds[b]:bounds[b + 1]].sum())
                cache[b] = dec[off:off + n]
                off += n
        tf_sel = np.concatenate([tf[bounds[b]:bounds[b + 1]] for b in sel])
        pos_sel = np.concatenate([cache[b] for b in sel.tolist()])
        ids_sel = np.concatenate([ids[bounds[b]:bounds[b + 1]] for b in sel])
        return (ids_sel, tf_sel, pos_sel)


def _as_slice_index(sl) -> _SliceIndex:
    return sl if isinstance(sl, _SliceIndex) else _SliceIndex(sl)


def _build_norm_lookup(norms_pdf) -> dict:
    """field -> (sorted doc_ids, dls); accepts a prebuilt dict unchanged."""
    if isinstance(norms_pdf, dict):
        return norms_pdf
    out = {}
    for field, nf in norms_pdf.groupby("field", sort=False):
        nd = nf["doc_id"].to_numpy(np.int64)
        order = np.argsort(nd, kind="mergesort")
        out[field] = (nd[order], nf["dl"].to_numpy(np.float64)[order])
    return out


def _phrase_decode_selective(idx: "_SliceIndex", field: str,
                             terms: list[str]) -> dict:
    """Decode phrase terms' postings with lazy positions: intersect docID
    streams first (cheap gap decodes), then block-selectively decode
    positions only where candidates live.  On a rare+hot phrase the hot
    term's position stream shrinks to the rare term's blocks — the
    Lucene-style 'advance then read positions' access pattern."""
    uniq = list(dict.fromkeys(terms))
    id_lists = []
    for t in uniq:
        if idx.blocks(field, t) is None:
            return {}  # missing term: no phrase hits anywhere
        id_lists.append(idx.ids_only(field, t))
    order = sorted(range(len(uniq)), key=lambda i: id_lists[i].size)
    cand = id_lists[order[0]]
    for i in order[1:]:
        if cand.size == 0:
            break
        a = id_lists[i]
        j = np.minimum(np.searchsorted(a, cand), a.size - 1)
        cand = cand[a[j] == cand]
    if cand.size == 0:
        return {}  # terms never co-occur in this slice: no phrase hits
    return {t: idx.decoded_selective(field, t, cand) for t in uniq}


def _phrase_match_sloppy(decoded, terms, offsets, slop):
    """Anchor-displacement sloppy phrase match (see query/plan.py Phrase).

    For every occurrence p of the FIRST phrase term, displacement(p) =
    Σ_i min_q |q - (p + offset_i)| over the other terms' positions q in the
    same doc; anchors with displacement ≤ slop contribute 1/(1+displacement)
    to a weighted tf (Lucene sloppyFreq shape).  Same strictly-increasing
    (doc << 32 | pos) key arrays as the exact path: per anchor the nearest
    position of each term is the searchsorted neighbor pair, so the whole
    computation is O(Σ|pos| log |pos|) with no per-doc Python loop.

    Returns (doc_ids, weights float64).  With slop=0 every surviving anchor
    has displacement 0 and weight 1, reproducing the exact-phrase tf.
    """
    M = np.int64(1) << 32
    keys = {}
    for t in dict.fromkeys(terms):
        ent = decoded.get(t)
        if ent is None:
            return np.empty(0, np.int64), np.empty(0, np.float64)
        ids_t, tfs_t, pos_t = ent
        if pos_t is None or ids_t.size == 0:
            return np.empty(0, np.int64), np.empty(0, np.float64)
        keys[t] = np.repeat(ids_t, tfs_t) * M + pos_t
    a = keys[terms[0]]
    if a.size == 0:
        return np.empty(0, np.int64), np.empty(0, np.float64)
    base = np.int64(offsets[0])
    adoc = a >> np.int64(32)
    disp = np.zeros(a.size, np.float64)
    for t, off in zip(terms[1:], offsets[1:]):
        b = keys[t]
        e = a + (np.int64(off) - base)
        j = np.searchsorted(b, e)
        left = np.full(a.size, np.inf)
        jl = j - 1
        okl = jl >= 0
        jl_c = np.maximum(jl, 0)
        okl &= (b[jl_c] >> np.int64(32)) == adoc
        left[okl] = (e[okl] - b[jl_c[okl]]).astype(np.float64)
        right = np.full(a.size, np.inf)
        okr = j < b.size
        jr_c = np.minimum(j, b.size - 1)
        okr &= (b[jr_c] >> np.int64(32)) == adoc
        right[okr] = (b[jr_c[okr]] - e[okr]).astype(np.float64)
        disp += np.minimum(left, right)
    keep = disp <= slop
    if not keep.any():
        return np.empty(0, np.int64), np.empty(0, np.float64)
    w = 1.0 / (1.0 + disp[keep])
    docs = adoc[keep]
    uniq, inv = np.unique(docs, return_inverse=True)
    return uniq, np.bincount(inv, weights=w)


def _phrase_match(decoded, terms, offsets, slop: int = 0):
    """Vectorized positional phrase intersection.

    Returns (doc_ids, phrase_tfs) for docs containing the phrase.  Builds
    (doc, pos) key arrays per term and intersects shifted keys — keys are
    built from ascending (doc, pos) streams so every key array is STRICTLY
    INCREASING, and intersection is a searchsorted probe (no sorting of
    multi-million-element arrays).

    Terms intersect in ASCENDING position-count order: the accumulated key
    set starts at the rarest term and only shrinks, so the hot term's huge
    key array is only ever the probed side (|probe| log |hot|, not
    |hot| log |probe|) — the difference between ~1 s and ~10 s on a phrase
    over a df=100% code token.  Keys stay aligned to the rarest term's
    offset; a shifted position going negative lands in the previous doc's
    key space at an impossible position (~2^32), so it can never falsely
    match.  The surviving key set (and so docs and per-doc counts) is
    order-independent.

    ``slop>0`` routes to :func:`_phrase_match_sloppy` (weighted float tf).
    """
    if slop:
        return _phrase_match_sloppy(decoded, terms, offsets, slop)
    sizes = []
    for t in terms:
        ent = decoded.get(t)
        if ent is None:
            return np.empty(0, np.int64), np.empty(0, np.int64)
        ids_t, _tfs_t, pos_t = ent
        if pos_t is None or ids_t.size == 0:
            return np.empty(0, np.int64), np.empty(0, np.int64)
        sizes.append(pos_t.size)
    order = np.argsort(np.asarray(sizes), kind="stable")
    base_off = np.int64(offsets[order[0]])
    M = np.int64(1) << 32

    def isect_sorted(a: np.ndarray, b: np.ndarray) -> np.ndarray:
        if a.size == 0 or b.size == 0:
            return np.empty(0, np.int64)
        i = np.minimum(np.searchsorted(b, a), b.size - 1)
        return a[b[i] == a]

    # doc-level prefilter: a position key can only survive if its doc holds
    # EVERY term, so intersect the (df-sized) docID streams first and gather
    # each term's position slices for just those docs — on a hot+hot phrase
    # this shrinks the (doc,pos) key arrays to the common-doc mass before
    # the expensive per-position probes (Lucene's conjunction-then-positions
    # two-phase iterator)
    uniq_terms = list(dict.fromkeys(terms))
    doc_common = None
    for t in sorted(uniq_terms, key=lambda t: decoded[t][0].size):
        doc_common = (decoded[t][0] if doc_common is None
                      else isect_sorted(doc_common, decoded[t][0]))
        if doc_common.size == 0:
            return np.empty(0, np.int64), np.empty(0, np.int64)

    def restrict(ids_t, tfs_t, pos_t):
        if 2 * doc_common.size >= ids_t.size:
            # <2x shrink: the ragged position gather costs more than the
            # key-probe savings (degenerate hot+hot phrases keep ~all docs)
            return ids_t, tfs_t, pos_t
        i = np.minimum(np.searchsorted(doc_common, ids_t),
                       doc_common.size - 1)
        sel = doc_common[i] == ids_t
        t_sel = tfs_t[sel]
        n = int(t_sel.sum())
        if n == 0:
            return ids_t[sel], t_sel, pos_t[:0]
        starts = np.cumsum(tfs_t) - tfs_t
        out_ends = np.cumsum(t_sel)
        idxs = (np.repeat(starts[sel] - (out_ends - t_sel), t_sel)
                + np.arange(n))
        return ids_t[sel], t_sel, pos_t[idxs]

    cache: dict = {}
    keys = None
    for oi in order:
        t = terms[oi]
        if t not in cache:
            cache[t] = restrict(*decoded[t])
        ids_t, tfs_t, pos_t = cache[t]
        kt = (np.repeat(ids_t, tfs_t) * M + pos_t
              - (np.int64(offsets[oi]) - base_off))
        keys = kt if keys is None else isect_sorted(keys, kt)
        if keys.size == 0:
            return np.empty(0, np.int64), np.empty(0, np.int64)
    docs = (keys // M).astype(np.int64)
    uniq, counts = np.unique(docs, return_counts=True)
    return uniq, counts.astype(np.int64)


def _in_ranges(ids: np.ndarray, doc_ranges, dead: np.ndarray | None = None) -> np.ndarray:
    """Boolean mask: ids inside the collection's docID ranges (Q8 collection
    filter as numeric compare) and not tombstoned (liveDocs check)."""
    if doc_ranges is None:
        m = np.ones(ids.shape, dtype=bool)
    else:
        m = np.zeros(ids.shape, dtype=bool)
        for lo, hi in doc_ranges:
            m |= (ids >= lo) & (ids <= hi)
    if dead is not None and dead.size:
        idx = np.searchsorted(dead, ids)
        idx_c = np.minimum(idx, dead.size - 1)
        m &= ~(dead[idx_c] == ids)
    return m


def _empty_hits() -> pd.DataFrame:
    return pd.DataFrame({"doc_id": pd.Series([], dtype="int64"),
                         "score": pd.Series([], dtype="float64")})


def _constant_score_ids(idx: "_SliceIndex", s) -> np.ndarray:
    """Sorted docIDs a constant-score leaf matches in one slice: the union
    of a range/wildcard/fuzzy expansion's postings, or for match-all every
    doc of the slice (``idx.all_ids``)."""
    if s["kind"] == "all":
        return idx.all_ids
    ids = [idx.ids_only(s["field"], t) for t in s["terms"]
           if idx.blocks(s["field"], t) is not None]
    return np.unique(np.concatenate(ids)) if ids else np.empty(0, np.int64)


def _eval_tree_slice(tree, idx, norm_lookup, df_map, stats, doc_ranges,
                     dead: np.ndarray | None = None):
    """Recursively evaluate a compiled spec tree (``_compile_tree``) over one
    doc-slice: returns (sorted unique docIDs matching the node, scores).

    Lucene BooleanWeight / BS2 semantics per Bool node: every MUST and
    FILTER child matches; no MUST_NOT child matches; #matching SHOULD
    children >= max(minimumNumberShouldMatch, 1 if there are no MUST/FILTER
    children else 0); score = Σ matching MUST scores + Σ matching SHOULD
    scores (FILTER children gate but contribute 0 — ConstantScore(0)).
    DisMax nodes combine children with max + tie × (sum of the others).
    All-numpy; leaf scoring matches ``_score_slice``'s flat path
    bit-for-bit (same bm25 kernels on the same decoded streams)."""
    empty = (np.empty(0, np.int64), np.empty(0, np.float64))

    def dl_of(field, ids):
        nd, dls = norm_lookup[field]
        return dls[np.searchsorted(nd, ids)]

    def leaf(s):
        field = s["field"]
        boost = s.get("boost", 1.0)
        n_docs, avgdl = stats.get(field, (0.0, 1.0))
        if s["kind"] == "phrase":
            decoded = _phrase_decode_selective(idx, field, s["terms"])
            ids, ptf = _phrase_match(decoded, s["terms"], s["offsets"],
                                     s.get("slop", 0))
            keep = _in_ranges(ids, doc_ranges, dead)
            ids, ptf = ids[keep], ptf[keep]
            if not ids.size:
                return empty
            idf_sum = boost * float(sum(
                bm25.idf(df_map.get((field, t), 0.0) or 1.0, n_docs)
                for t in s["terms"]))
            return ids, idf_sum * bm25.tf_norm(ptf.astype(np.float64),
                                               dl_of(field, ids), avgdl)
        if s["kind"] in ("range", "all"):
            ids = _constant_score_ids(idx, s)
            ids = ids[_in_ranges(ids, doc_ranges, dead)]
            return ids, np.full(ids.size, boost, np.float64)
        decoded = {t: idx.decoded(field, t, False) for t in s["terms"]
                   if idx.blocks(field, t) is not None}
        if s["kind"] == "syn":
            if not decoded:
                return empty
            ids_all = np.concatenate([v[0] for v in decoded.values()])
            tfs_all = np.concatenate([v[1] for v in decoded.values()])
            keep = _in_ranges(ids_all, doc_ranges, dead)
            ids_all, tfs_all = ids_all[keep], tfs_all[keep]
            ids, inv = np.unique(ids_all, return_inverse=True)
            df_syn = max((df_map.get((field, t), 0.0) for t in s["terms"]),
                         default=0.0)
            if df_syn <= 0 or ids.size == 0:
                return empty
            tf_sum = np.bincount(inv, weights=tfs_all.astype(np.float64))
            scores = bm25.score(tf_sum, dl_of(field, ids), df_syn,
                                n_docs, avgdl)
            return ids, (scores * boost if boost != 1.0 else scores)
        # term
        t = s["terms"][0] if s["terms"] else None
        got = decoded.get(t)
        if got is None:
            return empty
        ids, tfs = got[0], got[1]
        keep = _in_ranges(ids, doc_ranges, dead)
        ids, tfs = ids[keep], tfs[keep]
        df = df_map.get((field, t), 0.0)
        if df <= 0 or ids.size == 0:
            return empty
        scores = bm25.score(tfs.astype(np.float64), dl_of(field, ids), df,
                            n_docs, avgdl)
        return ids, (scores * boost if boost != 1.0 else scores)

    def ev(n):
        if "op" not in n:
            return leaf(n)
        if n["op"] == "dismax":
            evals = [ev(c) for c in n["children"]]
            evals = [e for e in evals if e[0].size]
            if not evals:
                return empty
            uniq = np.unique(np.concatenate([e[0] for e in evals]))
            mat = np.zeros((len(evals), uniq.size), np.float64)
            for i, (ids, sc) in enumerate(evals):
                mat[i, np.searchsorted(uniq, ids)] = sc
            mx = mat.max(axis=0)
            return uniq, mx + n["tie"] * (mat.sum(axis=0) - mx)
        # bool
        mu = [ev(c) for c in n["must"]]
        fl = [ev(c) for c in n["filter"]]
        base = None
        for ids, _ in mu + fl:
            base = ids if base is None else base[
                np.isin(base, ids, assume_unique=True)]
            if base.size == 0:
                return empty
        sh = [ev(c) for c in n["should"]]
        eff_mm = max(n["mm"], 0 if base is not None else 1)
        if sh and any(ids.size for ids, _ in sh):
            uniq = np.unique(np.concatenate([ids for ids, _ in sh]))
            cnt = np.zeros(uniq.size, np.int64)
            ssc = np.zeros(uniq.size, np.float64)
            for ids, sc in sh:
                if ids.size:
                    pos = np.searchsorted(uniq, ids)
                    cnt[pos] += 1
                    ssc[pos] += sc
            if eff_mm > 0:
                ok = cnt >= eff_mm
                uniq, ssc = uniq[ok], ssc[ok]
            if base is None:
                final, score = uniq, ssc
            else:
                if eff_mm > 0:
                    final = base[np.isin(base, uniq, assume_unique=True)]
                else:
                    final = base
                score = np.zeros(final.size, np.float64)
                pos = np.searchsorted(uniq, final)
                inb = pos < uniq.size
                hit = inb.copy()
                hit[inb] = uniq[pos[inb]] == final[inb]
                score[hit] += ssc[pos[hit]]
        else:
            if base is None or eff_mm > 0:
                return empty  # no (matching) SHOULD but mm demands some
            final = base
            score = np.zeros(final.size, np.float64)
        for ids, sc in mu:  # final ⊆ every MUST's ids by construction
            score = score + sc[np.searchsorted(ids, final)]
        if n["must_not"]:
            neg = [ev(c)[0] for c in n["must_not"]]
            neg = [x for x in neg if x.size]
            if neg:
                keep = ~np.isin(final, np.unique(np.concatenate(neg)),
                                assume_unique=True)
                final, score = final[keep], score[keep]
        return final, score

    return ev(tree)


def _score_slice(sl, norms_pdf, specs, df_map,
                 stats, doc_ranges, k, needs_positions,
                 dead: np.ndarray | None = None, *,
                 min_should: int = 0,
                 dismax_tie: float | None = None,
                 tree=None) -> pd.DataFrame:
    """Score one doc-slice: top-k (doc_id, score), numpy throughout.

    ``sl`` may be a block-row DataFrame or a prebuilt _SliceIndex;
    ``norms_pdf`` a norms frame or a prebuilt lookup dict (batch callers
    prebuild both so per-query cost excludes all slice prep).

    ``min_should``: Lucene minimumNumberShouldMatch — drop docs matching
    fewer than this many SHOULD leaves (MUST/FILTER don't count).
    ``dismax_tie``: when set, leaves carry a ``group`` id and the combine is
    DisjunctionMaxQuery's max + tie×(sum of other groups) instead of the
    boolean sum.  FILTER leaves gate but never score; a query with ONLY
    filter leaves returns empty (every facade surface pairs a filter with a
    scoring main query — Lucene would match at score 0).

    ``tree``: compiled spec tree for NESTED boolean plans — routes to the
    recursive ``_eval_tree_slice`` (specs/min_should/dismax_tie unused)."""
    idx = _as_slice_index(sl)
    norm_lookup = _build_norm_lookup(norms_pdf)

    if tree is not None:
        uniq, total = _eval_tree_slice(tree, idx, norm_lookup, df_map,
                                       stats, doc_ranges, dead)
        if uniq.size == 0:
            return _empty_hits()
        order = np.lexsort((uniq, -total))[:k]
        return pd.DataFrame({"doc_id": uniq[order], "score": total[order]})

    def dl_of(field, ids):
        nd, dls = norm_lookup[field]
        i = np.searchsorted(nd, ids)
        return dls[i]

    def decoded_for(field, terms, want_pos):
        out = {}
        for t in terms:
            if idx.blocks(field, t) is not None:
                out[t] = idx.decoded(field, t, want_pos)
        return out

    scored_frames = []   # (leaf_id, ids, scores) for positive leaves
    must_sets = []
    not_sets = []
    filter_sets = []     # FILTER leaves: required, non-scoring
    should_sets = []     # SHOULD leaf match sets (only kept when mm > 1)
    for s in specs:
        field = s["field"]
        boost = s.get("boost", 1.0)
        n_docs, avgdl = stats.get(field, (0.0, 1.0))
        if s["kind"] == "syn":
            # Lucene SynonymQuery: one pseudo-term — tf = Σ member tfs,
            # docFreq = max member df (blended idf can't exceed the most
            # selective member's)
            decoded = decoded_for(field, s["terms"], False)
            if decoded:
                ids_all = np.concatenate([v[0] for v in decoded.values()])
                tfs_all = np.concatenate([v[1] for v in decoded.values()])
            else:
                ids_all = np.empty(0, np.int64)
                tfs_all = np.empty(0, np.int64)
            keep = _in_ranges(ids_all, doc_ranges, dead)
            ids_all, tfs_all = ids_all[keep], tfs_all[keep]
            ids, inv = np.unique(ids_all, return_inverse=True)
            if s["polarity"] == "must_not":
                not_sets.append(ids)
                continue
            if s["polarity"] == "filter":
                filter_sets.append(ids)
                continue
            df_syn = max((df_map.get((field, t), 0.0) for t in s["terms"]),
                         default=0.0)
            if df_syn <= 0 or ids.size == 0:
                scored_frames.append((s["leaf_id"], np.empty(0, np.int64),
                                      np.empty(0, np.float64)))
                if s["polarity"] == "must":
                    must_sets.append(np.empty(0, np.int64))
                continue
            tf_sum = np.bincount(inv, weights=tfs_all.astype(np.float64))
            scores = bm25.score(tf_sum, dl_of(field, ids), df_syn,
                                n_docs, avgdl)
            if boost != 1.0:
                scores = scores * boost
            scored_frames.append((s["leaf_id"], ids, scores))
            if s["polarity"] == "must":
                must_sets.append(ids)
            if min_should > 1 and s["polarity"] == "should":
                should_sets.append(ids)
        elif s["kind"] == "phrase":
            decoded = _phrase_decode_selective(idx, field, s["terms"])
            ids, ptf = _phrase_match(decoded, s["terms"], s["offsets"],
                                     s.get("slop", 0))
            keep = _in_ranges(ids, doc_ranges, dead)
            ids, ptf = ids[keep], ptf[keep]
            if s["polarity"] == "must_not":
                not_sets.append(ids)
                continue
            if s["polarity"] == "filter":
                filter_sets.append(ids)
                continue
            idf_sum = boost * float(sum(
                bm25.idf(df_map.get((field, t), 0.0) or 1.0, n_docs)
                for t in s["terms"]))
            if ids.size:
                scores = idf_sum * bm25.tf_norm(ptf.astype(np.float64),
                                                dl_of(field, ids), avgdl)
            else:
                scores = np.empty(0, np.float64)
            scored_frames.append((s["leaf_id"], ids, scores))
            if s["polarity"] == "must":
                must_sets.append(ids)
            if min_should > 1 and s["polarity"] == "should":
                should_sets.append(ids)
        elif s["kind"] in ("range", "all"):
            ids = _constant_score_ids(idx, s)
            ids = ids[_in_ranges(ids, doc_ranges, dead)]
            if s["polarity"] == "must_not":
                not_sets.append(ids)
                continue
            if s["polarity"] == "filter":
                filter_sets.append(ids)
                continue
            scored_frames.append((s["leaf_id"], ids,
                                  np.full(ids.size, boost, np.float64)))
            if s["polarity"] == "must":
                must_sets.append(ids)
            if min_should > 1 and s["polarity"] == "should":
                should_sets.append(ids)
        else:  # term
            t = s["terms"][0]
            decoded = decoded_for(field, [t], False)
            ent = decoded.get(t)
            if ent is None:
                ids = np.empty(0, np.int64)
                tfs = np.empty(0, np.int64)
            else:
                ids, tfs, _ = ent
            keep = _in_ranges(ids, doc_ranges, dead)
            ids, tfs = ids[keep], tfs[keep]
            if s["polarity"] == "must_not":
                not_sets.append(ids)
                continue
            if s["polarity"] == "filter":
                filter_sets.append(ids)
                continue
            df = df_map.get((field, t), 0.0)
            if df <= 0 or ids.size == 0:
                scored_frames.append((s["leaf_id"], np.empty(0, np.int64),
                                      np.empty(0, np.float64)))
                if s["polarity"] == "must":
                    must_sets.append(np.empty(0, np.int64))
                continue
            scores = bm25.score(tfs.astype(np.float64), dl_of(field, ids),
                                df, n_docs, avgdl)
            if boost != 1.0:
                scores = scores * boost
            scored_frames.append((s["leaf_id"], ids, scores))
            if s["polarity"] == "must":
                must_sets.append(ids)
            if min_should > 1 and s["polarity"] == "should":
                should_sets.append(ids)

    if not scored_frames:
        return _empty_hits()

    # ---- combine: sum scores over leaves (or dismax over leaf groups);
    # enforce must/must_not/filter/min_should
    sized = [ids for _, ids, _ in scored_frames if ids.size]
    if not sized:
        return _empty_hits()
    lo_id = min(int(ids[0]) for ids in sized)
    id_span = max(int(ids[-1]) for ids in sized) - lo_id + 1
    if dismax_tie is None and id_span <= 16_000_000:
        # dense docID-indexed combine: each leaf's ids are unique within the
        # leaf, so plain fancy-index adds replace the union sort +
        # np.add.at scatter-reduce + per-set np.isin probes.  Per-doc
        # addition order is leaf order — identical float64 sums to the
        # sparse path below.
        acc = np.zeros(id_span, np.float64)
        matched = np.zeros(id_span, dtype=bool)
        for _, ids, sc in scored_frames:
            if ids.size:
                off = ids - lo_id
                acc[off] += sc
                matched[off] = True
        keep_mask = matched
        for ms in must_sets:
            m = np.zeros(id_span, dtype=bool)
            inb = ms[(ms >= lo_id) & (ms < lo_id + id_span)]
            m[inb - lo_id] = True
            keep_mask &= m
        for fs in filter_sets:
            m = np.zeros(id_span, dtype=bool)
            inb = fs[(fs >= lo_id) & (fs < lo_id + id_span)]
            m[inb - lo_id] = True
            keep_mask &= m
        for ns in not_sets:
            inb = ns[(ns >= lo_id) & (ns < lo_id + id_span)]
            keep_mask[inb - lo_id] = False
        if min_should > 1:
            cnt = np.zeros(id_span, np.int16)
            for ss in should_sets:
                inb = ss[(ss >= lo_id) & (ss < lo_id + id_span)]
                cnt[inb - lo_id] += 1
            keep_mask &= cnt >= min_should
        cand = np.flatnonzero(keep_mask)
        if not cand.size:
            return _empty_hits()
        sc = acc[cand]
        dids = cand + lo_id
        if cand.size > k:
            part = np.argpartition(-sc, k - 1)[:k]
            thr = sc[part].min()
            keep2 = np.flatnonzero(sc >= thr)
            order = keep2[np.lexsort((dids[keep2], -sc[keep2]))][:k]
        else:
            order = np.lexsort((dids, -sc))
        return pd.DataFrame({"doc_id": dids[order], "score": sc[order]})
    all_ids = np.concatenate([ids for _, ids, _ in scored_frames])
    all_scores = np.concatenate([sc for _, ids, sc in scored_frames])
    if all_ids.size == 0:
        return _empty_hits()
    uniq, inv = np.unique(all_ids, return_inverse=True)
    if dismax_tie is None:
        total = np.zeros(uniq.size, np.float64)
        np.add.at(total, inv, all_scores)
    else:
        # DisjunctionMaxQuery combine: per-group sums -> max + tie*(rest)
        group_of = {s["leaf_id"]: s.get("group", 0) for s in specs}
        groups = sorted({group_of[lid] for lid, _, _ in scored_frames})
        gidx = {g: i for i, g in enumerate(groups)}
        mat = np.zeros((len(groups), uniq.size), np.float64)
        for lid, ids, sc in scored_frames:
            if ids.size:
                pos = np.searchsorted(uniq, ids)
                np.add.at(mat[gidx[group_of[lid]]], pos, sc)
        mx = mat.max(axis=0)
        total = mx + dismax_tie * (mat.sum(axis=0) - mx)
    keep = np.ones(uniq.size, dtype=bool)
    for ms in must_sets:
        keep &= np.isin(uniq, ms, assume_unique=False)
    for fs in filter_sets:
        keep &= np.isin(uniq, fs, assume_unique=False)
    for ns in not_sets:
        keep &= ~np.isin(uniq, ns, assume_unique=False)
    if min_should > 1:
        cnt = np.zeros(uniq.size, np.int64)
        for ss in should_sets:
            cnt += np.isin(uniq, ss, assume_unique=False)
        keep &= cnt >= min_should
    uniq, total = uniq[keep], total[keep]
    if uniq.size == 0:
        return _empty_hits()
    # ---- per-slice top-k: score desc, doc_id asc
    if uniq.size > k:
        # argpartition on (-score, doc_id) via lexsort of the top region
        order = np.lexsort((uniq, -total))[:k]
    else:
        order = np.lexsort((uniq, -total))
    return pd.DataFrame({"doc_id": uniq[order], "score": total[order]})


def _score_slice_wand(sl, norms_pdf, specs,
                      df_map, stats, doc_ranges, k,
                      stats_out: dict | None = None,
                      dead: np.ndarray | None = None) -> pd.DataFrame:
    """Block-max top-k for pure-OR term queries (the hot query shape).

    Two-phase block-max pruning with the WAND guarantee:
    1. decode only the docID gap streams (cheap) and compute each doc's upper
       bound  UB(d) = Σ_t idf_t · block_max_w(block of d in t);
    2. exact-score docs in descending-UB chunks, decoding a block's tf stream
       only when one of its docs is actually scored; stop as soon as the next
       doc's UB cannot beat the current k-th exact score.

    Exact scores equal the exhaustive path bit-for-bit: the same postings are
    decoded and the same float64 expression evaluated, only the *set* of docs
    fully scored shrinks.  ``stats_out`` (tests) receives tf-decode counts.
    """
    idx = _as_slice_index(sl)
    norm_lookup = _build_norm_lookup(norms_pdf)

    # ---- phase 1: per-term structure, docID decode only (cached in idx)
    terms = []   # dicts: ids, idf, tf_parts(lazy, SHARED via idx), bounds
    for s in specs:
        field = s["field"]
        t = s["terms"][0]
        n_docs, avgdl = stats.get(field, (0.0, 1.0))
        df = df_map.get((field, t), 0.0)
        if df <= 0 or n_docs == 0:
            continue
        ent = idx.blocks(field, t)
        if ent is None:
            continue
        counts = ent["doc_count"]
        ids = idx.ids_only(field, t)
        bounds = np.concatenate([[0], np.cumsum(counts)])
        idf_t = float(bm25.idf(df, n_docs))
        ub_blocks = idf_t * bm25.tf_norm(
            ent["block_max_tf"].astype(np.float64),
            ent["block_min_dl"].astype(np.float64), avgdl)
        terms.append({
            "field": field, "ids": ids, "bounds": bounds,
            "tf_raw": ent["tf_raw"], "tf_parts": ent["tf_parts"],
            "ent": ent,
            "idf": idf_t, "df": df, "n_docs": n_docs, "avgdl": avgdl,
            "ub_blocks": ub_blocks,
        })
    if not terms:
        return _empty_hits()

    # ---- single-term fast path: postings are already unique and sorted, and
    # every posting's exact score is one vectorized expression — scoring all
    # of them + argpartition top-k beats bound-ordered traversal outright
    # (hot single terms are the most common query shape)
    if len(terms) == 1 and specs and specs[0].get("kind") == "term":
        t = terms[0]
        ids = t["ids"]
        tfs_all = []
        for b in range(len(t["tf_raw"])):
            if t["tf_parts"][b] is None:
                t["tf_parts"][b] = codec.varint_decode(t["tf_raw"][b]).astype(np.int64)
            tfs_all.append(t["tf_parts"][b])
        tfs = np.concatenate(tfs_all) if tfs_all else np.empty(0, np.int64)
        keep = _in_ranges(ids, doc_ranges, dead)
        ids, tfs = ids[keep], tfs[keep]
        if ids.size == 0:
            return _empty_hits()
        nd, dls = norm_lookup[t["field"]]
        dl = dls[np.searchsorted(nd, ids)]
        sc = bm25.score(tfs.astype(np.float64), dl, t["df"], t["n_docs"],
                        t["avgdl"])
        if stats_out is not None:
            stats_out["tf_blocks_total"] = len(t["tf_raw"])
            stats_out["tf_blocks_decoded"] = len(t["tf_raw"])
        if ids.size > k:
            # argpartition breaks score ties arbitrarily; keep EVERY doc at
            # or above the k-th score, then sort that small set with the
            # exact (score desc, doc_id asc) tie-break
            part = np.argpartition(-sc, k - 1)[:k]
            thr = sc[part].min()
            cand = np.flatnonzero(sc >= thr)
            order = cand[np.lexsort((ids[cand], -sc[cand]))][:k]
        else:
            order = np.lexsort((ids, -sc))
        return pd.DataFrame({"doc_id": ids[order], "score": sc[order]})

    if stats_out is not None:
        stats_out["tf_blocks_total"] = sum(len(t["tf_raw"]) for t in terms)
        stats_out["tf_blocks_decoded"] = 0

    # ---- dense-accumulator exhaustive scoring (Lucene's per-segment score
    # array): one docID-indexed float64 accumulator, one vectorized BM25
    # pass per term, scatter-added with plain fancy indexing (docIDs are
    # unique within a term's postings).  O(postings + id_span) with NO union
    # sort, NO np.add.at scatter-reduce and NO bound-ordered traversal —
    # used when block upper bounds cannot discriminate (homogeneous idfs:
    # several hot terms, the profiled p50 shape) or when traversal detects
    # mid-flight that they don't.  Scores equal the traversal path
    # bit-for-bit: same per-term float64 expression, same per-doc addition
    # order (query term order), same (score desc, doc_id asc) tie-break.
    sized = [t for t in terms if t["ids"].size]
    if not sized:
        return _empty_hits()
    lo_id = min(int(t["ids"][0]) for t in sized)
    id_span = max(int(t["ids"][-1]) for t in sized) - lo_id + 1
    dense_ok = id_span <= 16_000_000  # 128 MB float64 accumulator ceiling

    def _dense() -> pd.DataFrame:
        acc = np.zeros(id_span, np.float64)
        matched = np.zeros(id_span, dtype=bool)
        for t in terms:
            ids = t["ids"]
            if not ids.size:
                continue
            ent = t["ent"]
            if ent.get("_tf") is None:
                ent["_tf"] = codec.varint_decode(
                    b"".join(t["tf_raw"])).astype(np.int64)
                if stats_out is not None:
                    stats_out["tf_blocks_decoded"] += len(t["tf_raw"])
            tfs = ent["_tf"]
            if doc_ranges is not None or (dead is not None and dead.size):
                keep = _in_ranges(ids, doc_ranges, dead)
                ids, tfs = ids[keep], tfs[keep]
                if not ids.size:
                    continue
            nd, dls = norm_lookup[t["field"]]
            dl = dls[np.searchsorted(nd, ids)]
            sc = bm25.score(tfs.astype(np.float64), dl, t["df"],
                            t["n_docs"], t["avgdl"])
            off = ids - lo_id
            acc[off] += sc
            matched[off] = True
        cand = np.flatnonzero(matched)
        if not cand.size:
            return _empty_hits()
        sc = acc[cand]
        dids = cand + lo_id
        if cand.size > k:
            part = np.argpartition(-sc, k - 1)[:k]
            thr = sc[part].min()
            keep2 = np.flatnonzero(sc >= thr)
            order = keep2[np.lexsort((dids[keep2], -sc[keep2]))][:k]
        else:
            order = np.lexsort((dids, -sc))
        return pd.DataFrame({"doc_id": dids[order], "score": sc[order]})

    idfs = [t["idf"] for t in terms]
    all_decoded = all(t["ent"].get("_tf") is not None for t in terms)
    if dense_ok and (all_decoded or max(idfs) < 2.0 * min(idfs)):
        # dense wins outright in two regimes: (a) warm cache — every tf
        # stream is already decoded, so pruning saves nothing and the union
        # build (unique+lexsort over Σdf ids) is pure overhead; (b) flat
        # bounds — no rare term towers over the others, so theta can never
        # skip meaningful mass
        return _dense()

    # per-doc upper bounds
    all_ids = np.concatenate([t["ids"] for t in terms])
    all_ub = np.concatenate([
        np.repeat(t["ub_blocks"], np.diff(t["bounds"])) for t in terms])
    if doc_ranges is not None or (dead is not None and dead.size):
        keep = _in_ranges(all_ids, doc_ranges, dead)
        all_ids, all_ub = all_ids[keep], all_ub[keep]
    if all_ids.size == 0:
        return _empty_hits()
    uniq, inv = np.unique(all_ids, return_inverse=True)
    ub = np.zeros(uniq.size, np.float64)
    np.add.at(ub, inv, all_ub)
    # descending UB, doc_id asc on ties
    order = np.lexsort((uniq, -ub))
    uniq_o, ub_o = uniq[order], ub[order]

    def exact_scores(doc_subset: np.ndarray) -> np.ndarray:
        out = np.zeros(doc_subset.size, np.float64)
        for t in terms:
            idx = np.searchsorted(t["ids"], doc_subset)
            idx_c = np.minimum(idx, t["ids"].size - 1)
            hit = t["ids"][idx_c] == doc_subset
            if not hit.any():
                continue
            pos = idx_c[hit]
            if 3 * pos.size >= t["ids"].size:
                # large subset: ONE concatenated varint decode of the whole
                # tf stream (cached on the shared slice-index entry) beats a
                # per-block Python loop over thousands of tiny blocks
                ent = t["ent"]
                if ent.get("_tf") is None:
                    ent["_tf"] = codec.varint_decode(
                        b"".join(t["tf_raw"])).astype(np.int64)
                    if stats_out is not None:
                        stats_out["tf_blocks_decoded"] += len(t["tf_raw"])
                tfs = ent["_tf"][pos].astype(np.float64)
            else:
                blk = np.searchsorted(t["bounds"], pos, side="right") - 1
                for b in np.unique(blk):
                    if t["tf_parts"][b] is None:
                        t["tf_parts"][b] = codec.varint_decode(
                            t["tf_raw"][b]).astype(np.int64)
                        if stats_out is not None:
                            stats_out["tf_blocks_decoded"] += 1
                tfs = np.array([t["tf_parts"][b][p - t["bounds"][b]]
                                for b, p in zip(blk, pos)], dtype=np.float64)
            nd, dls = norm_lookup[t["field"]]
            dl = dls[np.searchsorted(nd, doc_subset[hit])]
            out[hit] += bm25.score(tfs, dl, t["df"], t["n_docs"], t["avgdl"])
        return out

    # ---- phase 2: chunked exact scoring in UB order with early exit.
    # Chunks GROW geometrically: when upper bounds barely discriminate (a
    # single hot term), theta never prunes and a fixed small chunk would mean
    # thousands of Python iterations each paying a searchsorted over the full
    # posting list — doubling bounds iterations at ~log2(n) while keeping the
    # first chunks small enough for fast-converging queries to exit early.
    chunk = max(4 * k, 256)
    best_ids: np.ndarray = np.empty(0, np.int64)
    best_scores: np.ndarray = np.empty(0, np.float64)
    i = 0
    n = uniq_o.size
    rounds = 0
    while i < n:
        theta = best_scores[k - 1] if best_scores.size >= k else -np.inf
        if ub_o[i] <= theta:
            break  # WAND exit: no remaining doc can enter the top-k
        rounds += 1
        if rounds > 4:
            # bounds are not discriminating (flat-ub workload): one exact
            # vectorized dense pass over everything beats more traversal
            # (already-scored docs recompute to identical float64 values)
            if dense_ok:
                return _dense()
            chunk = n
        j = min(i + chunk, n)
        chunk *= 2
        # within the chunk, only docs whose UB beats theta can matter
        cand_mask = ub_o[i:j] > theta
        cand = uniq_o[i:j][cand_mask]
        if cand.size:
            sc = exact_scores(np.sort(cand))
            cand_sorted = np.sort(cand)
            best_ids = np.concatenate([best_ids, cand_sorted])
            best_scores = np.concatenate([best_scores, sc])
            o = np.lexsort((best_ids, -best_scores))[:max(k, 1)]
            best_ids, best_scores = best_ids[o], best_scores[o]
        i = j
    return pd.DataFrame({"doc_id": best_ids, "score": best_scores})
