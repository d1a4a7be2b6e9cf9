"""Recursive-descent parser for the Lucene classic QueryParser surface
(SURVEY.md §2.4 Q1): bare terms, field:term, AND/OR/NOT, +term/-term, quoted
phrases with optional slop ("a b"~2), inclusive/exclusive ranges
([lo TO hi], {lo TO hi}, mixed ends), parentheses, wildcards (te?t*), fuzzy
terms (roam~, roam~1), boosts (term^2, "a phrase"^3, [a TO b]^0.5) and
backslash escapes of special characters (foo\\-bar, path\\:name).

Query-side analysis mirrors indexing (the reference hands the same
StandardAnalyzer to its QueryParser, LuceneIndexBean.java:727-735): terms are
run through the code-aware analyzer, so a camelCase query token becomes a
phrase of its sub-terms (Lucene does exactly this when an analyzer splits one
query token into several) and stopword query terms match nothing on their own
but keep their position gaps inside phrases.
"""

from __future__ import annotations

import re

from lucene_plugin_spark.analysis.tokenizer import tokenize_text
from lucene_plugin_spark.query.plan import (DEFAULT_FIELD, Bool, Fuzzy,
                                            MatchAll, Node, Phrase, Range,
                                            Regexp, Term, Wildcard)


class QueryParseError(ValueError):
    pass


_BOOST_RE = re.compile(r"^(?P<body>.+?)(?<!\\)\^(?P<boost>\d+(?:\.\d+)?)$")
_FUZZY_RE = re.compile(r"^(?P<body>.+?)(?<!\\)~(?P<edits>[0-2])?$")


_TOKEN_RE = re.compile(
    r"""\s*(?:
        (?P<lparen>\() |
        (?P<rparen>\)) |
        (?P<and>AND\b|&&) |
        (?P<or>OR\b|\|\|) |
        (?P<not>NOT\b|!) |
        (?P<plus>\+) |
        (?P<minus>-) |
        (?P<phrase>"(?P<phrase_body>[^"]*)"
            (?:~(?P<phrase_slop>\d+))?
            (?:\^(?P<phrase_boost>\d+(?:\.\d+)?))?) |
        (?P<range>(?P<lob>[\[{])\s*(?P<lo>[^\s\]}]+)\s+TO\s+(?P<hi>[^\s\]}]+)\s*(?P<hib>[\]}])(?:\^(?P<range_boost>\d+(?:\.\d+)?))?) |
        (?P<regex>(?:(?P<regex_field>(?:\\.|[^\s()"\[\]{}+\-:/])+):)?/(?P<regex_body>(?:\\.|[^/\\])+)/(?:\^(?P<regex_boost>\d+(?:\.\d+)?))?) |
        (?P<word>(?:\\.|[^\s()"\[\]{}+-])(?:\\.|[^\s()"\[\]{}])*)
    )""",
    re.VERBOSE,
)

_ESCAPE_RE = re.compile(r"\\(.)")


def _unescape(s: str) -> str:
    """``foo\\-bar`` -> ``foo-bar`` (classic QueryParser backslash escapes)."""
    return _ESCAPE_RE.sub(r"\1", s)


def _split_field(word: str) -> tuple[str | None, str]:
    """Split on the first UNESCAPED colon: ``lang:py`` -> (lang, py);
    ``path\\:x`` -> (None, path\\:x)."""
    i = 0
    while i < len(word):
        if word[i] == "\\":
            i += 2
            continue
        if word[i] == ":":
            return word[:i], word[i + 1:]
        i += 1
    return None, word


def _lex(q: str):
    toks = []
    i = 0
    while i < len(q):
        m = _TOKEN_RE.match(q, i)
        if not m:
            if q[i:].isspace():  # trailing whitespace is not a lex error
                break
            raise QueryParseError(f"cannot lex query at offset {i}: {q!r}")
        if m.end() == i:  # only whitespace remains
            break
        toks.append(m)
        i = m.end()
    return toks


class _Parser:
    def __init__(self, q: str, default_field: str, variant: str = "standard"):
        self.toks = _lex(q)
        self.i = 0
        self.default_field = default_field
        self.variant = variant  # index analyzer variant (tokenizer module)

    def peek(self):
        return self.toks[self.i] if self.i < len(self.toks) else None

    def next(self):
        t = self.peek()
        self.i += 1
        return t

    # query := clause+   (implicit OR; +/AND promote to MUST, -/NOT to MUST_NOT)
    def parse(self) -> Node:
        should, must, must_not = [], [], []
        pending_op = None  # 'AND' binds the next clause and the previous one to MUST
        while self.peek() is not None:
            m = self.peek()
            if m.group("rparen"):
                break
            if m.group("and"):
                self.next()
                pending_op = "AND"
                continue
            if m.group("or"):
                self.next()
                pending_op = "OR"
                continue
            occur = None
            if m.group("plus"):
                self.next()
                occur = "must"
            elif m.group("minus") or m.group("not"):
                self.next()
                occur = "must_not"
            node = self.parse_clause()
            if node is None:
                continue
            if occur == "must":
                must.append(node)
            elif occur == "must_not":
                must_not.append(node)
            elif pending_op == "AND":
                # AND binds previous SHOULD clause too (Lucene classic behavior)
                if should:
                    must.append(should.pop())
                must.append(node)
            else:
                should.append(node)
            pending_op = None
        if not should and len(must) == 1 and not must_not:
            return must[0]
        if len(should) == 1 and not must and not must_not:
            return should[0]
        return Bool(should=tuple(should), must=tuple(must), must_not=tuple(must_not))

    def parse_clause(self) -> Node | None:
        m = self.next()
        if m is None:
            raise QueryParseError("unexpected end of query")
        if m.group("lparen"):
            inner = self.parse()
            r = self.next()
            if r is None or not r.group("rparen"):
                raise QueryParseError("unbalanced parenthesis")
            return inner
        field = self.default_field
        # field-qualified?  word with an unescaped ':' (value may follow in
        # the same token or as the next term/phrase/range token)
        if m.group("word"):
            fld, val = _split_field(m.group("word"))
            if fld is not None:
                # unescape here to match the regexp branch — 'fo\-o:x'
                # must resolve the same field as /.../ with field fo\-o
                field = _unescape(fld)
                if val:
                    return self._word_leaf(field, val)
                m = self.next()
                if m is None:
                    raise QueryParseError(f"field '{field}:' with no value")
        if m.group("phrase") is not None:
            b = m.group("phrase_boost")
            s = m.group("phrase_slop")
            return self._phrase(field, m.group("phrase_body"),
                                float(b) if b else 1.0,
                                int(s) if s else 0)
        if m.group("range") is not None:
            b = m.group("range_boost")
            return Range(field=field, lo=m.group("lo"), hi=m.group("hi"),
                         include_lo=m.group("lob") == "[",
                         include_hi=m.group("hib") == "]",
                         boost=float(b) if b else 1.0)
        if m.group("regex") is not None:
            b = m.group("regex_boost")
            if m.group("regex_field"):
                field = _unescape(m.group("regex_field"))
            # lowercased like other expanded terms (lowercaseExpandedTerms)
            return Regexp(field=field, pattern=m.group("regex_body").lower(),
                          boost=float(b) if b else 1.0)
        if m.group("word"):
            return self._word_leaf(field, m.group("word"))
        if m.group("lparen"):
            # field:(...) — grouped clause under a field
            saved = self.default_field
            self.default_field = field
            inner = self.parse()
            r = self.next()
            if r is None or not r.group("rparen"):
                raise QueryParseError("unbalanced parenthesis")
            self.default_field = saved
            return inner
        raise QueryParseError(f"unexpected token {m.group(0)!r}")

    def _word_leaf(self, field: str, raw: str) -> Node | None:
        """A word token: peel a trailing ``^boost``, then dispatch to fuzzy
        (trailing ``~``/``~n``), wildcard (``*``/``?`` anywhere), or the
        analyzed term/phrase path.  Wildcard and fuzzy terms are lowercased
        but NOT analyzed — classic QueryParser expands them against the raw
        term dictionary (lowercaseExpandedTerms default)."""
        boost = 1.0
        bm = _BOOST_RE.match(raw)
        if bm:
            raw, boost = bm.group("body"), float(bm.group("boost"))
        if field == "*" and raw == "*":
            # MatchAllDocsQuery in any clause (QueryParserBase
            # .getWildcardQuery)
            return MatchAll(boost=boost)
        fm = _FUZZY_RE.match(raw)
        if fm:
            edits = int(fm.group("edits")) if fm.group("edits") is not None else 2
            return Fuzzy(field=field, term=_unescape(fm.group("body")).lower(),
                         max_edits=edits, boost=boost)
        if re.search(r"(?<!\\)[*?]", raw):
            # keep backslashes: wildcard_regex resolves \* / \? to literals
            return Wildcard(field=field, pattern=raw.lower(), boost=boost)
        return self._term_or_phrase(field, _unescape(raw), boost)

    def _term_or_phrase(self, field: str, raw: str,
                        boost: float = 1.0) -> Node | None:
        """Analyze a single query token; >1 sub-term => positional phrase
        (Lucene's analyzer-splits-token behavior)."""
        analyzed = tokenize_text(raw, variant=self.variant)
        if not analyzed:
            return None  # pure-stopword term matches nothing
        if len(analyzed) == 1:
            return Term(field=field, term=analyzed[0][0], boost=boost)
        base = analyzed[0][1]
        return Phrase(field=field, terms=tuple(t for t, _ in analyzed),
                      offsets=tuple(p - base for _, p in analyzed), boost=boost)

    def _phrase(self, field: str, body: str, boost: float = 1.0,
                slop: int = 0) -> Node | None:
        analyzed = tokenize_text(_unescape(body), variant=self.variant)
        if not analyzed:
            return None
        if len(analyzed) == 1:
            return Term(field=field, term=analyzed[0][0], boost=boost)
        base = analyzed[0][1]
        return Phrase(field=field, terms=tuple(t for t, _ in analyzed),
                      offsets=tuple(p - base for _, p in analyzed),
                      boost=boost, slop=slop)


import functools


@functools.lru_cache(maxsize=1024)  # parsed-query LRU, same size as the
def parse_query(q: str, default_field: str = DEFAULT_FIELD,
                variant: str = "standard") -> Node:
    # reference's _queryCache (LuceneIndexBean.java:104); plan nodes are
    # frozen dataclasses so sharing the cached tree is safe
    if q is None or not q.strip():
        raise QueryParseError("empty query")
    node = _Parser(q, default_field, variant).parse()
    # A query whose terms all analyzed away (e.g. pure stopwords) parses to an
    # empty Bool — Lucene returns 0 hits for this, it does not error.
    return node


def sanitize_collection(name: str) -> str:
    """Strip Lucene special characters from collection names — mirrors the
    reference's escapeSpecialCharacters (LuceneIndexBean.java:553-586)."""
    return re.sub(r'[+\-!(){}\[\]^"~*?:\\]|&&|\|\|', "", name)
