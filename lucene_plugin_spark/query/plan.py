"""Query plan nodes — the analogue of Lucene's Query tree produced by the
classic QueryParser (parsed at LuceneIndexBean.java:383).

Semantics replicated from the reference (SURVEY.md §2.4):
- default field ``text`` (parser built at LuceneIndexBean.java:727-735);
- default operator OR (SHOULD) — scores of matching clauses are summed;
- MUST (+/AND), MUST_NOT (-/NOT) boolean clauses;
- phrase queries with positions (position increments preserved over removed
  stopwords);
- inclusive lexicographic term ranges ``field:[lo TO hi]``
  (TestSearchMap.java:51-58 pins string-range semantics);
- wildcard (``te?t*``), fuzzy (``roam~``, ``roam~1``) and boost (``term^2``)
  syntax from the same classic QueryParser the reference instantiates
  (LuceneIndexBean.java:727-735 — the parser accepts these even though the
  JUnit suite only exercises term/bool/phrase/range).  Wildcard and fuzzy
  are multi-term expansions scored constant-score like ranges (Lucene
  MultiTermQuery constant-score rewrite); fuzzy uses classic Levenshtein
  (Spark/DuckDB built-in) rather than Lucene's Damerau variant — documented
  deviation, transpositions count as 2 edits here;
- range / phrase / term all constrained to one field.
"""

from __future__ import annotations

from dataclasses import dataclass, field as dc_field

DEFAULT_FIELD = "text"


@dataclass(frozen=True)
class Node:
    pass


@dataclass(frozen=True)
class Term(Node):
    field: str
    term: str
    boost: float = 1.0


@dataclass(frozen=True)
class Phrase(Node):
    """``"a b"`` / ``"a b"~2`` — positional phrase, optionally sloppy.

    ``slop=0`` is the exact positional match.  ``slop>0`` uses
    anchor-displacement semantics: for every occurrence p of the first
    term, displacement = Σ_i min_q |q - (p + offset_i)| over the other
    terms' positions q in the doc; occurrences with displacement ≤ slop
    contribute ``1/(1+displacement)`` to a weighted phrase frequency
    (Lucene's 1/(1+matchLength) sloppyFreq shape, SloppyPhraseScorer).
    Deviation, documented like the fuzzy Levenshtein note: Lucene's greedy
    repositioning can merge overlapping matches and handles repeated terms
    specially; this per-anchor independent-minimum is order-deterministic
    and reduces EXACTLY to the slop=0 phrase tf when slop=0."""
    field: str
    terms: tuple[str, ...]       # analyzed terms
    offsets: tuple[int, ...]     # position offsets (gaps where stopwords fell out)
    boost: float = 1.0
    slop: int = 0


@dataclass(frozen=True)
class Range(Node):
    field: str
    lo: str
    hi: str
    include_lo: bool = True
    include_hi: bool = True
    boost: float = 1.0


@dataclass(frozen=True)
class Wildcard(Node):
    """``te?t*`` — expands against the term dictionary (``*`` = any run,
    ``?`` = one char), constant-score per matching doc.  Lowercased, NOT
    analyzed (classic QueryParser lowercaseExpandedTerms behavior)."""
    field: str
    pattern: str
    boost: float = 1.0


@dataclass(frozen=True)
class Regexp(Node):
    """``/pat.ern/`` — classic-QueryParser regexp term (Lucene RegexpQuery,
    QueryParserBase.getRegexpQuery): anchored whole-term match expanded
    against the term dictionary, constant-score.  Pattern syntax is the
    Java-regex/RE2 common subset (Spark ``rlike`` with ^(?:...)$ anchors /
    DuckDB ``regexp_full_match`` / Python ``re.fullmatch``) — Lucene's own
    ``RegExp`` dialect differs in exotic operators (documented deviation,
    like the fuzzy Levenshtein note)."""
    field: str
    pattern: str
    boost: float = 1.0


@dataclass(frozen=True)
class Fuzzy(Node):
    """``roam~``/``roam~1`` — terms within ``max_edits`` classic Levenshtein
    of ``term``, constant-score per matching doc."""
    field: str
    term: str
    max_edits: int = 2
    boost: float = 1.0


@dataclass(frozen=True)
class MatchAll(Node):
    """``*:*`` — Lucene MatchAllDocsQuery (the classic parser's field ``*``
    and term ``*``, in any clause): every live doc, constant score 1.0,
    collection filter and tombstones respected."""
    boost: float = 1.0


@dataclass(frozen=True)
class SynSet(Node):
    """Lucene ``SynonymQuery`` — terms that are query-time synonyms score as
    ONE pseudo-term: per-doc tf = Σ member tfs, docFreq = max member df
    (SynonymQuery.SynonymWeight uses the max docFreq / summed totalTermFreq
    of its members so a rare synonym cannot inflate the blended idf).  Built
    by :meth:`SearchEngine.search_synonyms`'s rewrite, never by the classic
    parser (Lucene wires synonyms through the analysis chain, not query
    syntax)."""
    field: str
    terms: tuple[str, ...]
    boost: float = 1.0


@dataclass(frozen=True)
class Bool(Node):
    """should: scored union; must: required (scored); must_not: excluded;
    filter: required but non-scoring (BooleanClause.Occur.FILTER — the
    constant-score cached-filter clause); min_should: Lucene
    ``BooleanQuery.Builder.setMinimumNumberShouldMatch`` — a doc must match
    at least this many SHOULD clauses (MUST/FILTER don't count toward it)."""
    should: tuple[Node, ...] = ()
    must: tuple[Node, ...] = ()
    must_not: tuple[Node, ...] = ()
    filter: tuple[Node, ...] = ()
    min_should: int = 0


@dataclass(frozen=True)
class DisMax(Node):
    """Lucene ``DisjunctionMaxQuery`` — score = max over disjunct scores +
    ``tie`` × (sum of the others)."""
    disjuncts: tuple[Node, ...] = ()
    tie: float = 0.0


_LEAF_TYPES = (Term, Phrase, Range, Wildcard, Fuzzy, Regexp, SynSet)


def iter_positive_leaves(node: Node):
    """All scoring leaves (Term/Phrase/Range/...) outside MUST_NOT clauses."""
    if isinstance(node, _LEAF_TYPES):
        yield node
    elif isinstance(node, Bool):
        for c in node.should + node.must + node.filter:
            yield from iter_positive_leaves(c)
    elif isinstance(node, DisMax):
        for c in node.disjuncts:
            yield from iter_positive_leaves(c)


def iter_all_leaves(node: Node):
    if isinstance(node, _LEAF_TYPES):
        yield node
    elif isinstance(node, Bool):
        for c in node.should + node.must + node.must_not + node.filter:
            yield from iter_all_leaves(c)
    elif isinstance(node, DisMax):
        for c in node.disjuncts:
            yield from iter_all_leaves(c)


def simplify(node: Node) -> Node:
    """Lucene ``BooleanQuery#rewrite``-style flattenings that preserve
    matching AND scoring exactly; anything not provably flatten-safe is
    left nested for the tree evaluator.

    - a pure-SHOULD Bool child in a SHOULD list inlines its children
      (>=1-of-union matching and score-sum are identical) when neither
      level carries minimumNumberShouldMatch > 1;
    - a pure-MUST Bool child in a MUST list inlines (AND associativity);
    - a pure-SHOULD Bool child in MUST_NOT position distributes
      (De Morgan: NOT(a OR b) = NOT a AND NOT b);
    - a single-positive-clause Bool rewrites to the clause itself
      (Lucene's 1-clause BooleanQuery rewrite).
    """
    if isinstance(node, DisMax):
        return DisMax(disjuncts=tuple(simplify(c) for c in node.disjuncts),
                      tie=node.tie)
    if not isinstance(node, Bool):
        return node
    should = [simplify(c) for c in node.should]
    must = [simplify(c) for c in node.must]
    must_not = [simplify(c) for c in node.must_not]
    filt = [simplify(c) for c in node.filter]

    def pure_should(b: Node) -> bool:
        return (isinstance(b, Bool) and bool(b.should) and not b.must
                and not b.must_not and not b.filter and b.min_should <= 1)

    def pure_must(b: Node) -> bool:
        return (isinstance(b, Bool) and bool(b.must) and not b.should
                and not b.must_not and not b.filter and b.min_should == 0)

    if node.min_should <= 1:
        flat: list[Node] = []
        for c in should:
            flat.extend(c.should) if pure_should(c) else flat.append(c)
        should = flat
    flat = []
    for c in must:
        if pure_must(c):
            flat.extend(c.must)
        elif pure_should(c) and len(c.should) == 1:
            flat.append(c.should[0])
        else:
            flat.append(c)
    must = flat
    flat = []
    for c in must_not:
        if pure_should(c):
            flat.extend(c.should)
        elif pure_must(c) and len(c.must) == 1:
            flat.append(c.must[0])
        else:
            flat.append(c)
    must_not = flat
    if (len(should) == 1 and not must and not must_not and not filt
            and node.min_should <= 1):
        return should[0]
    if (len(must) == 1 and not should and not must_not and not filt
            and node.min_should == 0):
        return must[0]
    return Bool(should=tuple(should), must=tuple(must),
                must_not=tuple(must_not), filter=tuple(filt),
                min_should=node.min_should)


def is_nested(node: Node) -> bool:
    """True when (post-:func:`simplify`) the plan needs the recursive tree
    evaluator: composite children (flattening would change Lucene
    semantics), or FILTER clauses with no MUST and mm==0 — Lucene's
    Boolean2ScorerSupplier makes SHOULD optional whenever MUST *or* FILTER
    clauses exist, so filter-only-matching docs match at score 0, which the
    flat path (candidates = docs hitting a scoring leaf) cannot produce."""
    if isinstance(node, Bool):
        if node.filter and not node.must and node.min_should == 0:
            return True
        return any(isinstance(c, (Bool, DisMax)) for c in
                   node.should + node.must + node.must_not + node.filter)
    if isinstance(node, DisMax):
        return any(
            isinstance(d, DisMax)
            or (isinstance(d, Bool) and (is_nested(d) or bool(d.must)
                                         or bool(d.must_not) or bool(d.filter)
                                         or d.min_should > 1))
            for d in node.disjuncts)
    return False
