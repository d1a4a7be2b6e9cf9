"""Round-3 module additions: parent/child block join (lucene-join), numeric
range facets (lucene-facet LongRangeFacetCounts), term vectors
(IndexReader.getTermVector), corpus-bigram cross-entropy, and sequence
packing — each checked against brute-force recomputation from the raw rows.
"""

import math
from collections import Counter, defaultdict

import pyspark.sql.functions as F
import pytest

from lucene_plugin_spark.analysis.tokenizer import tokenize_text
from lucene_plugin_spark.corpus import generate_rows
from lucene_plugin_spark.index.builder import IndexBuilder
from lucene_plugin_spark.ops.textstats import (bigram_cross_entropy,
                                               free_text_suggest,
                                               pack_sequences)
from lucene_plugin_spark.query.executor import SearchEngine
from lucene_plugin_spark.query.results import (range_facet_counts,
                                               to_child_join,
                                               to_parent_join)
from lucene_plugin_spark.storage.catalog import Catalog

N_DOCS = 240


@pytest.fixture(scope="module")
def built(spark, tmp_path_factory):
    wh = str(tmp_path_factory.mktemp("wh-mod3"))
    rows = generate_rows(N_DOCS, seed=11)
    catalog = Catalog(wh)
    IndexBuilder(spark, catalog, docs_per_slice=80).build(
        spark.createDataFrame(rows)
        .select("repo", "path", "commit", "lang", "content"))
    return catalog, rows


def _engine(spark, built):
    return SearchEngine(spark, built[0]).warm()


# -------------------------------------------------------------- block join
def _child_scores(eng, query):
    return {r["doc_id"]: r["score"]
            for r in eng.search(None, query, limit=1_000_000).collect()}


@pytest.mark.parametrize("mode,combine", [
    ("max", max), ("total", sum), ("min", min),
    ("avg", lambda xs: sum(xs) / len(xs))])
def test_block_join_score_modes(spark, built, mode, combine):
    eng = _engine(spark, built)
    hits = eng.search(None, "index cache", limit=1_000_000)
    got = [(r["parent"], round(r["score"], 9), r["n_children"])
           for r in to_parent_join(
               eng, hits, F.floor(F.col("doc_id") / 8), mode).collect()]
    groups = defaultdict(list)
    for d, s in _child_scores(eng, "index cache").items():
        groups[d // 8].append(s)
    want = sorted(((p, round(combine(ss), 9), len(ss))
                   for p, ss in groups.items()),
                  key=lambda x: (-x[1], x[0]))
    assert got == want


def test_block_join_score_mode_none(spark, built):
    eng = _engine(spark, built)
    hits = eng.search(None, "cache", limit=1_000_000)
    got = {r["parent"]: (r["score"], r["n_children"])
           for r in to_parent_join(
               eng, hits, F.floor(F.col("doc_id") / 8), "none").collect()}
    groups = Counter(d // 8 for d in _child_scores(eng, "cache"))
    assert got == {p: (1.0, n) for p, n in groups.items()}


def test_to_child_join_inherits_parent_score(spark, built):
    eng = _engine(spark, built)
    hits = eng.search(None, "index cache", limit=1_000_000)
    parent_of = F.floor(F.col("doc_id") / 8)
    parents = to_parent_join(eng, hits, parent_of, "total")
    got = [(r["doc_id"], r["parent"], round(r["score"], 9))
           for r in to_child_join(eng, parents, parent_of).collect()]
    # brute force: every doc in a matching block, block-total score
    groups = defaultdict(list)
    for d, s in _child_scores(eng, "index cache").items():
        groups[d // 8].append(s)
    totals = {p: round(sum(ss), 9) for p, ss in groups.items()}
    want = sorted(
        ((d, d // 8, totals[d // 8]) for d in range(N_DOCS)
         if d // 8 in totals),
        key=lambda t: (-t[2], t[0]))
    assert got == want and got
    # a block member that did NOT itself match still appears (block
    # inheritance), and a doc from an unmatched block never does
    matched = set(_child_scores(eng, "index cache"))
    nonmatching_members = [d for d, _, _ in got if d not in matched]
    assert nonmatching_members
    assert all(d // 8 in totals for d, _, _ in got)


def test_block_join_rejects_unknown_mode(spark, built):
    eng = _engine(spark, built)
    hits = eng.search(None, "cache", limit=10)
    with pytest.raises(ValueError):
        to_parent_join(eng, hits, F.col("doc_id"), "mean")


# ------------------------------------------------------- free-text suggest
def test_free_text_suggest_vs_brute(spark, built):
    import re

    rows = built[1]
    df = spark.createDataFrame(rows).select(
        F.col("path").alias("id"), F.col("content").alias("text"))
    toks_per = [[t for t in re.split(r"[^a-zA-Z0-9]+", r["content"].lower())
                 if t] for r in rows]
    bg, uni = Counter(), Counter()
    for ts in toks_per:
        uni.update(ts)
        bg.update(zip(ts, ts[1:]))
    heads = Counter()
    for (a, _b), c in bg.items():
        heads[a] += c
    ctx = heads.most_common(1)[0][0]
    head = heads[ctx]
    # bigram-only path (no prefix)
    want = sorted(((round(c / head, 6), b) for (a, b), c in bg.items()
                   if a == ctx), key=lambda t: (-t[0], t[1]))[:10]
    got = [(r["score"], r["token"]) for r in
           free_text_suggest(df, "id", "text", ctx, limit=10).collect()]
    assert got == want and got
    # prefix path: bigram continuations + stupid-backoff unigrams
    prefix, alpha = "s", 0.4
    T = sum(uni.values())
    contp = {b: c / head for (a, b), c in bg.items()
             if a == ctx and b.startswith(prefix)}
    cand = dict(contp)
    for w, c in uni.items():
        if w.startswith(prefix) and w not in contp:
            cand[w] = alpha * c / T
    k = len(cand)                 # full candidate list: both branches visible
    want_p = sorted(((round(s, 6), w) for w, s in cand.items()),
                    key=lambda t: (-t[0], t[1]))[:k]
    got_p = [(r["score"], r["token"]) for r in
             free_text_suggest(df, "id", "text", ctx, prefix=prefix,
                               limit=k).collect()]
    assert got_p == want_p and got_p
    # both branches really contribute
    assert any(w in contp for _, w in want_p)
    assert any(w not in contp for _, w in want_p)
    # unknown context: empty without a prefix, pure backoff with one
    assert free_text_suggest(df, "id", "text", "zzzctx").count() == 0
    only_back = [(r["score"], r["token"]) for r in
                 free_text_suggest(df, "id", "text", "zzzctx",
                                   prefix=prefix, limit=5).collect()]
    want_b = sorted(((round(alpha * c / T, 6), w) for w, c in uni.items()
                     if w.startswith(prefix)), key=lambda t: (-t[0], t[1]))[:5]
    assert only_back == want_b


# ------------------------------------------------------------ range facets
def test_range_facets_counts_and_zero_ranges(spark, built):
    eng = _engine(spark, built)
    hits = eng.search(None, "index", limit=1_000_000)
    ranges = [("tiny", 0, 5), ("short", 0, 40), ("mid", 40, 90),
              ("open", 90, None), ("all", 0, None)]
    got = {r["label"]: (r["lo"], r["hi"], r["doc_count"])
           for r in range_facet_counts(eng, hits, ranges).collect()}
    # brute force: dl = analyzed token count of each matching doc
    match_paths = {r["path"] for r in
                   eng.search(None, "index", limit=1_000_000).collect()}
    dls = [len(tokenize_text(r["content"])) for r in built[1]
           if r["path"] in match_paths]
    for label, lo, hi in ranges:
        want = sum(1 for d in dls if d >= lo and (hi is None or d < hi))
        assert got[label] == (lo, hi, want), label
    assert len(got) == len(ranges)          # zero-count ranges present
    assert got["tiny"][2] == 0


# ------------------------------------------------------------- term vector
def test_term_vector_matches_reanalysis(spark, built):
    eng = _engine(spark, built)
    row = built[1][17]
    got = {r["term"]: r["tf"]
           for r in eng.term_vector(None, row["path"]).collect()}
    want = Counter(t for t, _ in tokenize_text(row["content"]))
    assert got == dict(want)


def test_term_vector_missing_doc_is_empty(spark, built):
    eng = _engine(spark, built)
    assert eng.term_vector(None, "no-such-path").count() == 0


def test_term_vector_reflects_mutations(spark, tmp_path_factory):
    from lucene_plugin_spark.index.mutations import IndexMutator
    wh = str(tmp_path_factory.mktemp("wh-mod3-mut"))
    rows = generate_rows(60, seed=3)
    catalog = Catalog(wh)
    builder = IndexBuilder(spark, catalog, docs_per_slice=30)
    src = (spark.createDataFrame(rows)
           .select("repo", "path", "commit", "lang", "content"))
    builder.build(src)
    mut = IndexMutator(spark, catalog, builder)
    upd = (src.where(F.col("path") == rows[5]["path"])
           .withColumn("content", F.lit("replacement body text body")))
    mut.upsert(upd)
    mut.delete_keys(src.where(F.col("path") == rows[9]["path"])
                    .select("repo", "path"))
    eng = SearchEngine(spark, catalog)
    got = {r["term"]: r["tf"]
           for r in eng.term_vector(None, rows[5]["path"]).collect()}
    assert got == {"replacement": 1, "body": 2, "text": 1}
    assert eng.term_vector(None, rows[9]["path"]).count() == 0


# --------------------------------------------------- bigram cross-entropy
def _toks(text):
    return [t for t in "".join(
        c if c.isalnum() else " " for c in text.lower()).split() if t]


def test_bigram_cross_entropy_matches_bruteforce(spark):
    rows = [(i, r["content"]) for i, r in enumerate(generate_rows(80, seed=5))]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {r["id"]: (r["n_bigrams"], r["xent"])
           for r in bigram_cross_entropy(df, "doc_id", "text").collect()}
    bg_by_doc = {i: list(zip(_toks(t), _toks(t)[1:])) for i, t in rows}
    cb = Counter(b for bs in bg_by_doc.values() for b in bs)
    cu = Counter(b[0] for bs in bg_by_doc.values() for b in bs)
    for i, bs in bg_by_doc.items():
        if not bs:
            assert i not in got
            continue
        xent = -sum(math.log(cb[b] / cu[b[0]]) for b in bs) / len(bs)
        assert got[i][0] == len(bs)
        assert abs(got[i][1] - xent) < 1e-6, i


def test_bigram_cross_entropy_short_docs_drop(spark):
    df = spark.createDataFrame(
        [(0, "single"), (1, ""), (2, "two tokens")], ["doc_id", "text"])
    got = {r["id"] for r in bigram_cross_entropy(df, "doc_id", "text").collect()}
    assert got == {2}


# --------------------------------------------------------- sequence packing
def test_pack_sequences_matches_greedy_cumsum(spark):
    rows = [(i, f"g{i % 3}", "tok " * (7 + (i * 13) % 50))
            for i in range(90)]
    df = spark.createDataFrame(rows, ["doc_id", "grp", "text"])
    got = {(r["group"], r["id"]): (r["n_tokens"], r["seq_id"])
           for r in pack_sequences(df, "doc_id", "text", "grp",
                                   budget=64).collect()}
    by_group = defaultdict(list)
    for i, g, t in rows:
        by_group[g].append((i, len(_toks(t))))
    for g, docs in by_group.items():
        cum = 0
        for i, n in sorted(docs):
            assert got[(g, i)] == (n, cum // 64), (g, i)
            cum += n
    assert len(got) == len(rows)


# --------------------------------------------------- exact substring spans
def test_dup_span_coverage_matches_bruteforce(spark):
    from lucene_plugin_spark.ops.dedup import dup_span_coverage
    rows = [(i, r["content"]) for i, r in enumerate(generate_rows(70, seed=9))]
    # inject exact repeats so the dup set is non-trivial
    rows += [(100, rows[3][1]), (101, rows[3][1] + " extra tail tokens here")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    n = 5
    got = {r["id"]: (r["n_tokens"], r["n_dup_tokens"], r["dup_fraction"])
           for r in dup_span_coverage(df, "doc_id", "text", n=n).collect()}
    toks = {i: _toks(t) for i, t in rows}
    cnt = Counter()
    for ts in toks.values():
        for j in range(len(ts) - n + 1):
            cnt[tuple(ts[j:j + n])] += 1
    for i, ts in toks.items():
        cov = set()
        for j in range(len(ts) - n + 1):
            if cnt[tuple(ts[j:j + n])] >= 2:
                cov.update(range(j, j + n))
        frac = round(len(cov) / max(len(ts), 1), 6)
        assert got[i] == (len(ts), len(cov), frac), i
    # the injected exact dup is fully covered
    assert got[100][2] == 1.0 and got[3][2] == 1.0


def test_dup_span_coverage_short_docs(spark):
    from lucene_plugin_spark.ops.dedup import dup_span_coverage
    df = spark.createDataFrame(
        [(0, "a b c"), (1, "a b c"), (2, "")], ["doc_id", "text"])
    got = {r["id"]: (r["n_tokens"], r["n_dup_tokens"], r["dup_fraction"])
           for r in dup_span_coverage(df, "doc_id", "text", n=5).collect()}
    # shorter than n: no shingles, zero coverage, still reported
    assert got == {0: (3, 0, 0.0), 1: (3, 0, 0.0), 2: (0, 0, 0.0)}


def test_to_child_join_repo_scope(spark, built):
    """Repo-scoped parent hits must not inherit children from OTHER repos
    whose parent_of key collides (blocks of 8 straddle repo boundaries in
    the (repo, path)-ordered docID space)."""
    eng = _engine(spark, built)
    repo = "repo-01"
    parent_of = F.floor(F.col("doc_id") / 8)
    hits = eng.search(repo, "index cache", limit=1_000_000)
    parents = to_parent_join(eng, hits, parent_of, "total")
    scoped = to_child_join(eng, parents, parent_of, repo=repo)
    rows_s = scoped.collect()
    assert rows_s, "scoped child set must be non-empty"
    (lo, hi), = eng.repo_doc_ranges(repo)
    assert all(lo <= r["doc_id"] <= hi for r in rows_s)
    # the unscoped expansion over the same parents demonstrates the leak
    # the scope exists to prevent (repo boundary inside a block)
    unscoped = to_child_join(eng, parents, parent_of).collect()
    assert {r["doc_id"] for r in rows_s} == {
        r["doc_id"] for r in unscoped if lo <= r["doc_id"] <= hi}
    if any(r["doc_id"] < lo or r["doc_id"] > hi for r in unscoped):
        # scoping really filtered something on this corpus
        assert len(rows_s) < len(unscoped)


def test_to_child_join_empty_scope_keeps_schema(spark, built):
    """A repo with no doc ranges yields an EMPTY child set that still has
    the documented (doc_id, path, parent, score) columns."""
    eng = _engine(spark, built)
    parent_of = F.floor(F.col("doc_id") / 8)
    parents = to_parent_join(eng, eng.search(None, "index", limit=50),
                             parent_of, "total")
    out = to_child_join(eng, parents, parent_of, repo="no-such-repo")
    assert out.columns == ["doc_id", "path", "parent", "score"]
    assert out.select("parent").collect() == []
